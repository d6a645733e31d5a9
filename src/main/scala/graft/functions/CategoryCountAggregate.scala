package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.runtime.LongRef

/** Exact value counts of a string column, up to a ceiling of distinct
  * values: the profiler's category map, computed in the same scan as the
  * NDV sketch that decides whether the column is categorical
  * (categorical_column_profile.py:478-521 keeps exact counts until a stop
  * condition).
  *
  * A buffer that passes `ceiling` distinct values drops its map and keeps
  * only an overflow mark, so a high-cardinality column costs at most
  * `ceiling + 1` entries per map task and ships a few bytes. Merging
  * with an overflowed buffer overflows; merging two maps adds their
  * counts and overflows past the ceiling. The result is
  * `map<string, bigint>` of the non-null values, or NULL once the column
  * overflowed anywhere. */
case class CategoryCountAggregate(
    child: Expression,
    ceiling: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CategoryCountAggregate.Buf]
    with UnaryLike[Expression] {

  import CategoryCountAggregate.Buf

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"CategoryCountAggregate expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Buf = new Buf(mutable.HashMap.empty)

  override def update(b: Buf, input: InternalRow): Buf = {
    if (b.counts != null) {
      val x = child.eval(input).asInstanceOf[UTF8String]
      if (x != null) {
        val c = b.counts.getOrElse(x, null)
        if (c != null) c.elem += 1
        // the input string may point into a reused row: copy before keeping
        else {
          b.counts.update(x.clone(), new LongRef(1L))
          if (b.counts.size > ceiling) b.counts = null
        }
      }
    }
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    if (a.counts != null) {
      if (b.counts == null) a.counts = null
      else {
        b.counts.foreachEntry { (k, c) =>
          a.counts.getOrElseUpdate(k, new LongRef(0L)).elem += c.elem
        }
        if (a.counts.size > ceiling) a.counts = null
      }
    }
    a
  }

  override def eval(b: Buf): Any =
    if (b.counts == null) null else CategoryCountAggregate.mapData(b.counts)

  /** Layout: -1 for an overflowed buffer, else
    * [[CategoryCountAggregate.writeCounts]]'s. */
  override def serialize(b: Buf): Array[Byte] =
    if (b.counts == null) java.nio.ByteBuffer.allocate(4).putInt(-1).array()
    else CategoryCountAggregate.writeCounts(b.counts)

  override def deserialize(bytes: Array[Byte]): Buf =
    new Buf(CategoryCountAggregate.readCounts(bytes))

  override def withNewMutableAggBufferOffset(o: Int): CategoryCountAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CategoryCountAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): CategoryCountAggregate =
    copy(child = newChild)
}

object CategoryCountAggregate {
  /** The value counts, NULL once past the ceiling. */
  final class Buf(var counts: mutable.HashMap[UTF8String, LongRef])

  /** The exact value counts of string column `x`, or NULL past `ceiling`
    * distinct values. */
  def apply(x: Column, ceiling: Int): Column =
    GraftSessions.column(CategoryCountAggregate(
      GraftSessions.expression(x.cast(StringType)), ceiling).toAggregateExpression())

  /** A count map as `map<string, bigint>` data. */
  private[functions] def mapData(m: mutable.HashMap[UTF8String, LongRef]): ArrayBasedMapData = {
    val keys = new Array[Any](m.size)
    val counts = new Array[Any](m.size)
    var i = 0
    m.foreachEntry { (k, c) => keys(i) = k; counts(i) = c.elem; i += 1 }
    ArrayBasedMapData(keys, counts)
  }

  /** Layout of a count map: entry count (int), then per entry the key's
    * UTF-8 byte length (int), its bytes, and its count (long). */
  private[functions] def writeCounts(m: mutable.HashMap[UTF8String, LongRef]): Array[Byte] = {
    var size = 4
    m.foreachEntry { (k, _) => size += 12 + k.numBytes }
    val bb = java.nio.ByteBuffer.allocate(size)
    bb.putInt(m.size)
    m.foreachEntry { (k, c) =>
      bb.putInt(k.numBytes).put(k.getBytes).putLong(c.elem)
    }
    bb.array()
  }

  /** [[writeCounts]]'s inverse; NULL for a negative entry count. */
  private[functions] def readCounts(bytes: Array[Byte]): mutable.HashMap[UTF8String, LongRef] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    if (n < 0) return null
    val m = mutable.HashMap.empty[UTF8String, LongRef]
    for (_ <- 0 until n) {
      val k = new Array[Byte](bb.getInt)
      bb.get(k)
      m.update(UTF8String.fromBytes(k), new LongRef(bb.getLong))
    }
    m
  }
}
