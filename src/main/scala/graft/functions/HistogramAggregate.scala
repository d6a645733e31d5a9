package graft.functions

import org.apache.spark.sql.{Column, GraftSessions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Aggregation buffer: `[lo, hi)` is the current equal-width bucket range
  * (grown geometrically so a sorted stream triggers O(log range) regrows,
  * not O(n)); `dLo`/`dHi` track the true data extremes so the final
  * histogram can be re-bucketed tight. Empty until the first value
  * (`counts.isEmpty`). Updated in place. */
final class HistBuf(var lo: Double, var hi: Double, var dLo: Double,
    var dHi: Double, var counts: Array[Long])

/** Mergeable equal-width histogram as a native typed aggregate — the
  * reference's stored-histogram semantics (numerical_column_stats.py:
  * 1267-1552: `_update_histogram` batch add, `_assimilate_histogram`
  * re-bucketing merge), so partial/final aggregation and Structured
  * Streaming state reuse come free.
  *
  * Values land in bins in one pass; when a value falls outside the current
  * range the range at least doubles and existing mass is re-bucketed by
  * bin midpoint (the assimilation rule). `merge` pours both sides'
  * midpoints into the union range. `eval` re-buckets to the exact
  * [min, max] seen. Approximation error is bounded by one bin width per
  * assimilation, same as the reference. NULL, NaN and ±Inf are skipped.
  *
  * Use as a Column through `HistogramAggregate(col, bins)` — one scan
  * profiles any number of columns with no second histogram pass. The
  * result is `struct<lo, hi, counts: array<bigint>>`, the shape of
  * [[graft.profiler.Histogram]]. */
case class HistogramAggregate(
    child: Expression,
    nBins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HistBuf] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"HistogramAggregate expects double, got ${child.dataType.simpleString}")
  override def dataType: DataType = HistogramAggregate.ResultType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): HistBuf =
    new HistBuf(Double.NaN, Double.NaN, Double.NaN, Double.NaN, Array.emptyLongArray)

  private def binOf(lo: Double, hi: Double, v: Double): Int =
    if (hi == lo) 0
    else math.min(nBins - 1, math.max(0, ((v - lo) / ((hi - lo) / nBins)).toInt))

  /** Pour `src` (bucketed over [sLo,sHi]) into a fresh array over
    * [lo,hi] by bin midpoint — the assimilation rule. */
  private def rebucket(
      src: Array[Long], sLo: Double, sHi: Double,
      lo: Double, hi: Double): Array[Long] = {
    val out = new Array[Long](nBins)
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

  override def update(b: HistBuf, input: InternalRow): HistBuf = {
    val x = child.eval(input)
    // ±Inf would set the working range infinite (bin width Inf/NaN) and
    // collapse all later values into edge bins — skip alongside NaN
    if (x == null) return b
    val v = x.asInstanceOf[Double]
    if (v.isNaN || v.isInfinite) return b
    if (b.counts.isEmpty) {
      b.counts = new Array[Long](nBins)
      b.counts(0) = 1L
      b.lo = v; b.hi = v; b.dLo = v; b.dHi = v
    } else if (v >= b.lo && v <= b.hi) {
      b.counts(binOf(b.lo, b.hi, v)) += 1
      b.dLo = math.min(b.dLo, v); b.dHi = math.max(b.dHi, v)
    } else {
      // grow at least 2x so sorted input causes O(log range) regrows
      val span = b.hi - b.lo
      val lo = if (v < b.lo) math.min(v, b.lo - math.max(span, 1e-300)) else b.lo
      val hi = if (v >= b.hi) math.max(v, b.hi + math.max(span, 1e-300)) else b.hi
      b.counts = rebucket(b.counts, b.lo, b.hi, lo, hi)
      b.counts(binOf(lo, hi, v)) += 1
      b.lo = lo; b.hi = hi
      b.dLo = math.min(b.dLo, v); b.dHi = math.max(b.dHi, v)
    }
    b
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
    a.counts = out
    a.lo = lo; a.hi = hi
    a.dLo = math.min(a.dLo, b.dLo); a.dHi = math.max(a.dHi, b.dHi)
    a
  }

  override def eval(b: HistBuf): Any = {
    val (lo, hi, counts) =
      if (b.counts.isEmpty) (0.0, 0.0, Array.emptyLongArray)
      else if (b.dHi == b.dLo) (b.dLo, b.dHi, Array(b.counts.sum))
      else (b.dLo, b.dHi, rebucket(b.counts, b.lo, b.hi, b.dLo, b.dHi))
    InternalRow(lo, hi, UnsafeArrayData.fromPrimitiveArray(counts))
  }

  /** Layout: lo, hi, dLo, dHi (doubles), bin count n (int), n longs. */
  override def serialize(b: HistBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(36 + 8 * b.counts.length)
    bb.putDouble(b.lo).putDouble(b.hi).putDouble(b.dLo).putDouble(b.dHi)
    bb.putInt(b.counts.length)
    bb.asLongBuffer().put(b.counts)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): HistBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new HistBuf(bb.getDouble, bb.getDouble, bb.getDouble, bb.getDouble,
      new Array[Long](bb.getInt))
    bb.asLongBuffer().get(b.counts)
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): HistogramAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HistogramAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): HistogramAggregate =
    copy(child = newChild)
}

object HistogramAggregate {
  private val ResultType: StructType = StructType(Seq(
    StructField("lo", DoubleType, nullable = false),
    StructField("hi", DoubleType, nullable = false),
    StructField("counts", ArrayType(LongType, containsNull = false))))

  /** The histogram of `x` (cast to double) over `nBins` equal-width bins. */
  def apply(x: Column, nBins: Int): Column =
    GraftSessions.column(HistogramAggregate(
      GraftSessions.expression(x.cast(DoubleType)), nBins).toAggregateExpression())
}
