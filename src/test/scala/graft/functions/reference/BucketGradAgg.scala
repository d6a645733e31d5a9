package graft.functions.reference

// Test-scope reference: the udaf(Aggregator) formulation that the native
// aggregate in graft.functions replaced, kept so NativeAggregatesSpec can
// compare the two on the same input.

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Input row for [[BucketGradAgg]]: one document's distinct bucket-id
  * set and its scaled gradient `gs = round(g·1e6)` (long). */
final case class BucketGradIn(bs: Seq[Long], gs: Long)

/** Aggregation buffer: fixed-size per-bucket scaled-long gradient sums;
  * slot `nBuckets` is the bias (the old explode's sentinel b = −1). */
final case class BucketGradBuf(sums: Array[Long])

/** Per-bucket gradient sums for the hashed-linear classifier's GD round,
  * as ONE fixed-size array aggregate instead of
  * `explode(bs ++ [-1]) → groupBy(b) → sum` (r20, guide §2.3 "aggregate
  * before you shuffle"): the explode multiplied every document row by
  * its distinct-bucket count and shuffled that fan-out to a 256-key hash
  * aggregation — per GD round, at corpus scale. Here each task folds its
  * documents into a local `(nBuckets+1)`-slot long array (bucket b at
  * slot b, bias at slot nBuckets) and the exchange carries one ~2 KB
  * array per map task instead of rows × buckets-per-doc records.
  *
  * Value identity with the explode formulation: both compute
  * Σ_{docs ∋ b} round(g_d·1e6) as long additions (exact, commutative,
  * order-free), so the driver-side weight update sees bit-identical
  * gradient longs — pinned by BucketGradAggSpec against the explode
  * plan on real data.
  *
  * A document with a NULL bucket array contributes nothing — not even
  * to the bias — exactly like the old `explode(concat(bs, array(-1)))`,
  * where `concat(NULL, ...)` is NULL and explodes to zero rows. */
class BucketGradAgg(nBuckets: Int)
    extends Aggregator[BucketGradIn, BucketGradBuf, Seq[Long]] {

  override def zero: BucketGradBuf = BucketGradBuf(new Array[Long](nBuckets + 1))

  override def reduce(b: BucketGradBuf, in: BucketGradIn): BucketGradBuf = {
    if (in.bs != null) {
      // in-place bump: the Aggregator contract gives `reduce` exclusive
      // ownership of `b` (the HistogramAgg safety note)
      val s = b.sums
      in.bs.foreach { bk =>
        // bk == nBuckets would alias into the bias slot, and a long past
        // Int range would wrap on toInt — reject both by name
        require(bk >= 0 && bk < nBuckets,
          s"BucketGradAgg: bucket id $bk outside [0, $nBuckets): " +
            "bucket ids must come from the same nBuckets the aggregate " +
            "was built with")
        s(bk.toInt) += in.gs
      }
      s(nBuckets) += in.gs
    }
    b
  }

  override def merge(a: BucketGradBuf, b: BucketGradBuf): BucketGradBuf = {
    val out = a.sums
    val add = b.sums
    var i = 0
    while (i < out.length) { out(i) += add(i); i += 1 }
    a
  }

  override def finish(b: BucketGradBuf): Seq[Long] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(b.sums)

  override def bufferEncoder: Encoder[BucketGradBuf] =
    Encoders.product[BucketGradBuf]
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
