package graft.functions

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedUnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The first `n` rows of the scan, in the order `df.head(n)` returns
  * them, as one aggregate that rides an ungrouped aggregation.
  *
  * A task keeps the first `n` rows of its input partition
  * (`TaskContext.getPartitionId`, as [[OrderSegmentsAggregate]] keys its
  * segments) in scan order, as UnsafeRows. Only
  * partitions below [[HeadRowsAggregate.MaxPartitions]] keep rows, so at
  * most that many times `n` rows cross the exchange at any scale. Merge
  * is the union of the partitions; `eval` concatenates them in partition
  * order and takes `n`: the head of the frame whenever those partitions
  * hold `n` rows or the whole frame ([[HeadRowsAggregate.covers]]).
  *
  * The rows of one partition must reach `update` in scan order, so the
  * aggregate belongs in an aggregation without grouping. The result is
  * `array<struct<c0, c1, …>>` of the children's values. */
case class HeadRowsAggregate(
    children: Seq[Expression],
    n: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HeadRowsAggregate.Buf] {

  import HeadRowsAggregate.Buf

  override def dataType: DataType = ArrayType(StructType(children.zipWithIndex.map {
    case (c, i) => StructField(s"c$i", c.dataType, nullable = true)
  }), containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val toUnsafe = InterpretedUnsafeProjection.createProjection(children)

  override def createAggregationBuffer(): Buf = mutable.HashMap.empty

  override def update(b: Buf, input: InternalRow): Buf =
    updateIn(b, input, TaskContext.getPartitionId())

  /** [[update]] with the input partition given. */
  private[graft] def updateIn(b: Buf, input: InternalRow, partition: Int): Buf = {
    if (partition < HeadRowsAggregate.MaxPartitions) {
      val rows = b.getOrElseUpdate(partition, mutable.ArrayBuffer.empty)
      // the projection's row is reused: copy before keeping
      if (rows.size < n) rows += toUnsafe(input).copy()
    }
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    b.foreachEntry { (partition, rows) =>
      require(!a.contains(partition), s"head rows of partition $partition merged twice")
      a.update(partition, rows)
    }
    a
  }

  override def eval(b: Buf): Any = new GenericArrayData(
    b.keys.toSeq.sorted.iterator.flatMap(b(_)).take(n).toArray[Any])

  /** Layout: the partition count (int), then per partition its id and
    * kept-row count (ints), and each kept row as an UnsafeRow,
    * length-prefixed (int). */
  override def serialize(b: Buf): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val data = new java.io.DataOutputStream(out)
    data.writeInt(b.size)
    b.foreachEntry { (partition, rows) =>
      data.writeInt(partition)
      data.writeInt(rows.size)
      rows.foreach { r =>
        data.writeInt(r.getSizeInBytes)
        data.write(r.getBytes, 0, r.getSizeInBytes)
      }
    }
    data.flush()
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b: Buf = mutable.HashMap.empty
    for (_ <- 0 until bb.getInt) {
      val partition = bb.getInt
      val rows = mutable.ArrayBuffer.empty[UnsafeRow]
      for (_ <- 0 until bb.getInt) {
        val row = new Array[Byte](bb.getInt)
        bb.get(row)
        val r = new UnsafeRow(children.size)
        r.pointTo(row, row.length)
        rows += r
      }
      b.update(partition, rows)
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): HeadRowsAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HeadRowsAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HeadRowsAggregate = copy(children = c)
}

object HeadRowsAggregate {

  /** Input partitions at or past this one keep no rows. */
  val MaxPartitions = 16

  /** Kept rows by input partition. */
  type Buf = mutable.HashMap[Int, mutable.ArrayBuffer[UnsafeRow]]

  /** Whether `got` head rows of a frame of `total` rows are its first
    * `n`: they are when there are `n` of them, or all `total`. */
  def covers(got: Int, n: Int, total: Long): Boolean = got >= n || got >= total

  /** The first `n` rows of `columns`, in scan order. */
  def apply(columns: Seq[Column], n: Int): Column =
    GraftSessions.column(HeadRowsAggregate(columns.map(GraftSessions.expression), n)
      .toAggregateExpression())
}
