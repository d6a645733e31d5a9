package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.runtime.LongRef

/** Misra-Gries bounded frequency summary: a one-pass, mergeable candidate
  * set for heavy-hitter detection (the candidate source the CMS sketch
  * needs — the sketch estimates counts but cannot enumerate keys).
  *
  * Guarantee: any value with true frequency > n/(capacity+1) is present in
  * the final map, REGARDLESS of row order or partition layout — unlike a
  * head sample (`limit(k).distinct`), which misses heavy hitters that
  * first appear late in sorted/clustered data (the common layout for
  * ingested logs). State is ≤ `capacity` entries per partition; merge is
  * additive followed by the standard (capacity+1)-th-count subtraction,
  * so the shuffle is one bounded map per partition.
  *
  * Reference semantics: categorical_column_profile.py:478-521 keeps exact
  * counts until a stop condition; this summary is the scale-safe escape
  * hatch for over-cap columns (estimated counts come from the CMS, keys
  * from here). The result is `map<string, bigint>`; NULLs are skipped.
  * Keys are held as UTF-8 bytes and serialize length-prefixed, so a key
  * of any length round-trips. */
case class MisraGriesAggregate(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, LongRef]]
    with UnaryLike[Expression] {

  private type Buf = mutable.HashMap[UTF8String, LongRef]

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"MisraGriesAggregate expects string, got ${child.dataType.simpleString}")
  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Buf = mutable.HashMap.empty

  /** Subtract `d` from every count and drop the non-positive ones. */
  private def decrementAll(m: Buf, d: Long): Unit =
    m.filterInPlace { (_, c) => c.elem -= d; c.elem > 0 }

  override def update(m: Buf, input: InternalRow): Buf = {
    val x = child.eval(input).asInstanceOf[UTF8String]
    if (x != null) {
      val c = m.getOrElse(x, null)
      if (c != null) c.elem += 1
      // the input string may point into a reused row: copy before keeping
      else if (m.size < capacity) m.update(x.clone(), new LongRef(1L))
      // decrement-all: each overflow retires capacity+1 count units, so
      // total work is O(n) amortized across the scan
      else decrementAll(m, 1L)
    }
    m
  }

  override def merge(a: Buf, b: Buf): Buf = {
    b.foreachEntry { (k, c) =>
      a.getOrElseUpdate(k, new LongRef(0L)).elem += c.elem
    }
    if (a.size > capacity) {
      // subtract the (capacity+1)-th largest count, drop non-positives —
      // preserves the n/(capacity+1) error bound under merge
      decrementAll(a, a.valuesIterator.map(_.elem).toArray
        .sorted(Ordering[Long].reverse)(capacity))
    }
    a
  }

  override def eval(m: Buf): Any = CategoryCountAggregate.mapData(m)

  /** Layout: [[CategoryCountAggregate.writeCounts]]'s. */
  override def serialize(m: Buf): Array[Byte] = CategoryCountAggregate.writeCounts(m)

  override def deserialize(bytes: Array[Byte]): Buf = CategoryCountAggregate.readCounts(bytes)

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAggregate =
    copy(child = newChild)
}

object MisraGriesAggregate {
  /** The Misra-Gries candidate summary of string column `x`, at most
    * `capacity` keys. */
  def apply(x: Column, capacity: Int): Column =
    GraftSessions.column(MisraGriesAggregate(
      GraftSessions.expression(x.cast(StringType)), capacity).toAggregateExpression())
}
