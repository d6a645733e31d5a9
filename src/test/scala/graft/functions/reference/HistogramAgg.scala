package graft.functions.reference

// Test-scope reference: the udaf(Aggregator) formulation that the native
// aggregate in graft.functions replaced, kept so NativeAggregatesSpec can
// compare the two on the same input.

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.profiler.Histogram

/** Aggregation buffer: `[lo, hi)` is the current equal-width bucket range
  * (grown geometrically so a sorted stream triggers O(log range) regrows,
  * not O(n)); `dLo`/`dHi` track the true data extremes so the final
  * histogram can be re-bucketed tight. */
final case class HistBuf(
    lo: Double, hi: Double, dLo: Double, dHi: Double, counts: Array[Long])

/** Mergeable equal-width histogram as a custom typed aggregate — the
  * reference's stored-histogram semantics (numerical_column_stats.py:
  * 1267-1552: `_update_histogram` batch add, `_assimilate_histogram`
  * re-bucketing merge) expressed as a Spark `Aggregator`, so partial/final
  * aggregation, AQE, and Structured Streaming state reuse all come free.
  *
  * Values land in bins in one pass; when a value falls outside the current
  * range the range at least doubles and existing mass is re-bucketed by
  * bin midpoint (the assimilation rule). `merge` pours both sides'
  * midpoints into the union range. `finish` re-buckets to the exact
  * [min, max] seen. Approximation error is bounded by one bin width per
  * assimilation, same as the reference.
  *
  * Register with `udaf(new HistogramAgg(bins))` and use as a Column — one
  * scan profiles any number of columns with no second histogram pass.
  */
class HistogramAgg(nBins: Int)
    extends Aggregator[Option[Double], HistBuf, Histogram] {

  override def zero: HistBuf =
    HistBuf(Double.NaN, Double.NaN, Double.NaN, Double.NaN, Array.empty)

  private def width(lo: Double, hi: Double): Double = (hi - lo) / nBins

  private def binOf(lo: Double, hi: Double, v: Double): Int =
    if (hi == lo) 0
    else math.min(nBins - 1, math.max(0, ((v - lo) / width(lo, hi)).toInt))

  /** Pour `src` (bucketed over [sLo,sHi]) into a fresh array over
    * [lo,hi] by bin midpoint — the assimilation rule. */
  private def rebucket(
      src: Array[Long], sLo: Double, sHi: Double,
      lo: Double, hi: Double): Array[Long] = {
    val out = Array.fill(nBins)(0L)
    val w = if (sHi == sLo) 0.0 else (sHi - sLo) / src.length
    var i = 0
    while (i < src.length) {
      if (src(i) > 0) {
        val mid = if (w == 0.0) sLo else sLo + (i + 0.5) * w
        out(binOf(lo, hi, mid)) += src(i)
      }
      i += 1
    }
    out
  }

  override def reduce(b: HistBuf, in: Option[Double]): HistBuf = in match {
    case None => b
    // ±Inf would set the working range infinite (bin width Inf/NaN) and
    // collapse all later values into edge bins — skip alongside NaN.
    case Some(v) if v.isNaN || v.isInfinite => b
    case Some(v) =>
      if (b.counts.isEmpty) {
        val counts = Array.fill(nBins)(0L)
        counts(0) = 1L
        HistBuf(v, v, v, v, counts)
      } else if (v >= b.lo && v <= b.hi) {
        // In-place bump + case-class copy sharing the array. SAFETY: the
        // Aggregator contract gives `reduce` exclusive ownership of `b`,
        // which is dead once the returned buffer replaces it — the two
        // never coexist observably. Cloning 256 longs per input row here
        // would put an O(bins) copy on the per-value hot path.
        b.counts(binOf(b.lo, b.hi, v)) += 1
        b.copy(dLo = math.min(b.dLo, v), dHi = math.max(b.dHi, v))
      } else {
        // grow at least 2x so sorted input causes O(log range) regrows
        val span = b.hi - b.lo
        val lo = if (v < b.lo) math.min(v, b.lo - math.max(span, 1e-300)) else b.lo
        val hi = if (v >= b.hi) math.max(v, b.hi + math.max(span, 1e-300)) else b.hi
        val counts = rebucket(b.counts, b.lo, b.hi, lo, hi)
        counts(binOf(lo, hi, v)) += 1
        HistBuf(lo, hi, math.min(b.dLo, v), math.max(b.dHi, v), counts)
      }
  }

  override def merge(a: HistBuf, b: HistBuf): HistBuf = {
    if (a.counts.isEmpty) return b
    if (b.counts.isEmpty) return a
    val lo = math.min(a.lo, b.lo)
    val hi = math.max(a.hi, b.hi)
    val out = rebucket(a.counts, a.lo, a.hi, lo, hi)
    val poured = rebucket(b.counts, b.lo, b.hi, lo, hi)
    var i = 0
    while (i < nBins) { out(i) += poured(i); i += 1 }
    HistBuf(lo, hi, math.min(a.dLo, b.dLo), math.max(a.dHi, b.dHi), out)
  }

  override def finish(b: HistBuf): Histogram =
    if (b.counts.isEmpty) Histogram(0.0, 0.0, Array.empty)
    else if (b.dHi == b.dLo) Histogram(b.dLo, b.dHi, Array(b.counts.sum))
    else Histogram(b.dLo, b.dHi, rebucket(b.counts, b.lo, b.hi, b.dLo, b.dHi))

  override def bufferEncoder: Encoder[HistBuf] = Encoders.product[HistBuf]
  override def outputEncoder: Encoder[Histogram] = Encoders.product[Histogram]
}
