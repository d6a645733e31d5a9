package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-bucket gradient sums for the hashed-linear classifier's GD round,
  * as ONE fixed-size array aggregate instead of
  * `explode(bs ++ [-1]) → groupBy(b) → sum` (r20, guide §2.3 "aggregate
  * before you shuffle"): the explode multiplied every document row by
  * its distinct-bucket count and shuffled that fan-out to a 256-key hash
  * aggregation — per GD round, at corpus scale. Here each task folds its
  * documents (`bs`, a distinct bucket-id array, and `gs`, the scaled
  * gradient `round(g·1e6)`) into a local `(nBuckets+1)`-slot long array
  * (bucket b at slot b, bias at slot nBuckets) and the exchange carries
  * one ~2 KB array per map task instead of rows × buckets-per-doc
  * records.
  *
  * Value identity with the explode formulation: both compute
  * Σ_{docs ∋ b} round(g_d·1e6) as long additions (exact, commutative,
  * order-free), so the driver-side weight update sees bit-identical
  * gradient longs — pinned by BucketGradAggSpec against the explode
  * plan on real data.
  *
  * A document with a NULL bucket array contributes nothing — not even
  * to the bias — exactly like the old `explode(concat(bs, array(-1)))`,
  * where `concat(NULL, ...)` is NULL and explodes to zero rows. The
  * result is `array<bigint>` of `nBuckets + 1` sums. */
case class BucketGradAggregate(
    bs: Expression,
    gs: Expression,
    nBuckets: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with BinaryLike[Expression] {

  override def left: Expression = bs
  override def right: Expression = gs
  override def checkInputDataTypes(): TypeCheckResult = (bs.dataType, gs.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (b, g) => TypeCheckResult.TypeCheckFailure("BucketGradAggregate expects " +
      s"(array<bigint>, bigint), got (${b.simpleString}, ${g.simpleString})")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nBuckets + 1)

  override def update(s: Array[Long], input: InternalRow): Array[Long] = {
    val ids = bs.eval(input).asInstanceOf[ArrayData]
    if (ids != null) {
      val g = gs.eval(input)
      require(g != null, "BucketGradAggregate: NULL gradient for a document " +
        "with buckets")
      val gl = g.asInstanceOf[Long]
      var i = 0
      while (i < ids.numElements()) {
        // bk == nBuckets would alias into the bias slot, and a long past
        // Int range would wrap on toInt — reject both by name
        require(!ids.isNullAt(i), "BucketGradAggregate: NULL bucket id")
        val bk = ids.getLong(i)
        require(bk >= 0 && bk < nBuckets,
          s"BucketGradAggregate: bucket id $bk outside [0, $nBuckets): " +
            "bucket ids must come from the same nBuckets the aggregate " +
            "was built with")
        s(bk.toInt) += gl
        i += 1
      }
      s(nBuckets) += gl
    }
    s
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(s: Array[Long]): Any = UnsafeArrayData.fromPrimitiveArray(s)

  /** Layout: the `nBuckets + 1` sums, as longs. */
  override def serialize(s: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * s.length)
    bb.asLongBuffer().put(s)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val s = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(s)
    s
  }

  override def withNewMutableAggBufferOffset(o: Int): BucketGradAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BucketGradAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketGradAggregate =
    copy(bs = newLeft, gs = newRight)
}

object BucketGradAggregate {
  /** The per-bucket sums of `gs` over the documents holding each bucket
    * id of `bs`, then the bias sum, over `nBuckets` buckets. */
  def apply(bs: Column, gs: Column, nBuckets: Int): Column =
    GraftSessions.column(BucketGradAggregate(
      GraftSessions.expression(bs.cast(ArrayType(LongType))),
      GraftSessions.expression(gs.cast(LongType)), nBuckets)
      .toAggregateExpression())
}
