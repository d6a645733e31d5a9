package graft.functions

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Exact interpolated percentiles via the VALUE HISTOGRAM, not a
  * value-buffer aggregate: `percentile()` holds every value in an
  * ObjectHashAggregate map per column — the histogram form bounds the
  * shuffle by NDV instead. groupBy (col, value) with map-side combine, a
  * per-column cumsum window places each distinct value's sorted index
  * range [lo, hi), and each (col, p) picks the two values bracketing
  * idx = p·(n−1) — the same interpolation definition Spark's
  * `percentile()` and DuckDB's `quantile_cont` share. This is also the
  * shape that survives 100 TB: the window runs over NDV-bounded
  * per-column histograms, never rows.
  */
object ExactQuantiles {

  /** Default per-column NDV cap for the exact path (see [[gated]]). The
    * histogram path's running-sum window sorts each column's NDV-row
    * histogram on ONE task, so the cap bounds that task; the measured
    * crossover vs the distributed sort-select sits far below the old 1M
    * memory-safety cap (583k-NDV l_extendedprice: 2.1 s histogram vs
    * 0.6 s sort-select at sf0.1), so the cap is set where the
    * single-task sort is still clearly sub-second — 100k rows ≈ 1.6 MB
    * of window state. */
  val DefaultNdvCap: Long = 100000L

  /** Scale guard: exact-by-histogram is NDV-bounded, which on a
    * continuous double column degenerates to NDV ≈ n — an n-key shuffle
    * whose per-column running-sum window lands on ONE partition. This
    * entry point pre-checks NDV per column with ONE
    * `approx_count_distinct` pass (the same early-abandon trick the
    * categorical stop-condition uses) and routes over-cap columns to
    * [[bySortSelect]] — a range-partitioned distributed sort, still
    * EXACT at any NDV (this first fired for real at sf1: l_extendedprice
    * crossed 1M NDV and the old GK fallback silently diverged from the
    * quantile_cont oracle). GK (`percentile_approx`) remains the
    * explicitly-chosen sampled path (`quantiles_approx` variant /
    * profiler sampled mode), not a silent fallback. */
  def gated(df: DataFrame, cols: Seq[String], probs: Seq[Double],
      ndvCap: Long = DefaultNdvCap, dp: Int = 6,
      accuracy: Int = 10000): DataFrame = {
    require(cols.nonEmpty, "gated() needs at least one column")
    val (histCols, sortCols) = splitByNdv(df, cols, ndvCap)
    if (sortCols.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"ExactQuantiles.gated: over-NDV-cap ($ndvCap) columns took the " +
          s"sort-select path: ${sortCols.mkString(", ")}")
    val parts =
      (if (histCols.nonEmpty) Seq(byHistogram(df, histCols, probs, dp))
       else Nil) ++
      (if (sortCols.nonEmpty) Seq(bySortSelectGrid(df, sortCols, probs, dp))
       else Nil)
    parts.reduce(_ unionByName _).orderBy("col_name", "p")
  }

  /** [[bySortSelect]] per column, reshaped into the same
    * (col_name, p, value) grid as [[byHistogram]] — one distributed-sort
    * job per column, values exact, all-null columns emit null values
    * (the quantile_cont contract). */
  def bySortSelectGrid(df: DataFrame, cols: Seq[String],
      probs: Seq[Double], dp: Int = 6): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    // HALF_UP to match Spark's round() (and DuckDB's), incl. negatives
    def r(v: Double): java.lang.Double =
      if (v.isNaN || v.isInfinite) v
      else java.math.BigDecimal.valueOf(v)
        .setScale(dp, java.math.RoundingMode.HALF_UP).doubleValue()
    // ONE count pass for every column (they share the scan), and the
    // per-column sort-select jobs submitted CONCURRENTLY — the sorts are
    // independent, and sequential submission left the cluster idle in
    // each job's scheduling/collect gaps (a 15-job query at sf1 spent
    // ~1/4 of its wall in those gaps)
    val ns = {
      // count POST-cast: bySortSelect filters after try_cast to double, so
      // a raw-column count over-counts when the cast nulls values (e.g. a
      // non-numeric string column) and picked(k) would throw
      val aggs = cols.map(c =>
        count(expr(s"try_cast(`$c` AS DOUBLE)")).as(c))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      cols.map(c => c -> row.getAs[Long](c)).toMap
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val grids = cols.map(c => Future {
      val qs = bySortSelect(df, c, probs, ns(c))
      probs.map(p => (c, p, qs.get(p).map(r).orNull))
    })
    Await.result(Future.sequence(grids), Duration.Inf).flatten
      .toDF("col_name", "p", "value")
      .select(col("col_name"), col("p"), col("value").cast("double"))
  }

  /** Columns that would take the approx path under `ndvCap` — exposed so
    * callers/tests can assert which gate a dataset hits. */
  def approxPathColumns(df: DataFrame, cols: Seq[String],
      ndvCap: Long = DefaultNdvCap): Seq[String] =
    if (cols.isEmpty) Nil else splitByNdv(df, cols, ndvCap)._2

  /** One agg pass of `approx_count_distinct` over every candidate column;
    * returns (under-cap, over-cap). HLL relative error ~2% — the cap is a
    * safety valve, not a precise threshold, so approximate is fine. */
  def splitByNdv(df: DataFrame, cols: Seq[String],
      ndvCap: Long): (Seq[String], Seq[String]) = {
    val aggs = cols.map(c => approx_count_distinct(col(c)).as(c))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    cols.partition(c => r.getAs[Long](c) <= ndvCap)
  }

  /** GK-sketch percentiles in the same (col_name, p, value) grid shape:
    * one bounded buffer per COLUMN (array of probs), values rounded to
    * `dp`. This is the 100 TB path for high-NDV continuous columns. */
  def byApprox(df: DataFrame, cols: Seq[String], probs: Seq[Double],
      dp: Int = 6, accuracy: Int = 10000): DataFrame = {
    val probArr = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    val aggs = cols.map(c =>
      expr(s"percentile_approx(TRY_CAST(`$c` AS DOUBLE), $probArr, $accuracy)")
        .as(s"${c}__qs"))
    val stackArgs = cols.flatMap { c =>
      probs.zipWithIndex.map { case (p, i) =>
        s"'$c', CAST($p AS DOUBLE), `${c}__qs`[$i]"
      }
    }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        s"stack(${cols.size * probs.size}, $stackArgs) AS (col_name, p, value)"))
      .select(col("col_name"), col("p"), round(col("value"), dp).as("value"))
  }

  /** Exact interpolated quantiles by RANGE-PARTITIONED SORT + global-
    * index selection: count, sort, pick the ≤2·|probs| rows bracketing
    * each idx = p·(n−1) by global index, interpolate like
    * `quantile_cont`. On a continuous column NDV ≈ n degenerates both
    * `percentile()`'s value buffer and [[byHistogram]]'s value-histogram
    * shuffle; the distributed sort is the shape that survives there
    * (measured 2.5× faster than `percentile()` on a ~600k-NDV column).
    * Returns probs → value; empty/all-null input → empty map. */
  def bySortSelect(df: DataFrame, c: String, probs: Seq[Double],
      precomputedN: Long = -1L): Map[Double, Double] = {
    // try_cast, not cast: ANSI mode (Spark 4 default) makes CAST throw on
    // malformed strings; the quantile contract is malformed → ignored
    val x = df.select(expr(s"try_cast(`$c` AS DOUBLE)").as("x"))
      .filter(col("x").isNotNull)
    val n = if (precomputedN >= 0) precomputedN else x.count()
    if (n == 0) return Map.empty
    val ks = probs.flatMap { p =>
      val idx = p * (n - 1)
      Seq(math.floor(idx).toLong, math.ceil(idx).toLong)
    }.toSet
    // zipWithIndex runs TWO jobs (per-partition counts, then the
    // indexed pass) — on an uncached sorted lineage that re-sorted the
    // column for each. Extract primitives from InternalRow (no Row
    // allocation) and cache the sorted values so the range sort runs
    // ONCE; the cache is ~n boxed doubles, evicted right after the pick.
    val sorted = x.orderBy("x").queryExecution.toRdd
      .mapPartitions(_.map(_.getDouble(0)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val picked =
      try sorted.zipWithIndex()
        .filter { case (_, i) => ks.contains(i) }.collect()
        .map(_.swap).toMap
      finally { sorted.unpersist(false); () }
    probs.map { p =>
      val idx = p * (n - 1); val k = math.floor(idx).toLong
      val vk = picked(k)
      p -> (vk + (idx - k) * (picked(math.ceil(idx).toLong) - vk))
    }.toMap
  }

  /** (col_name, p, value) for every column × prob; values rounded to
    * `dp` decimals (both engine twins round identically). */
  def byHistogram(df: DataFrame, cols: Seq[String], probs: Seq[Double],
      dp: Int = 6): DataFrame = {
    val s = df.sparkSession
    val pairArgs = cols.map(c => s"'$c', TRY_CAST(`$c` AS DOUBLE)")
      .mkString(", ")
    val g = df
      .select(expr(s"stack(${cols.size}, $pairArgs) AS (col_name, v)"))
      .filter(col("v").isNotNull)
      .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("col_name").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // n rides an unbounded frame over the SAME exchange (a second Window
    // operator, not a second scan of the stack + groupBy)
    val h = g.withColumn("hi", sum("cnt").over(w))
      .withColumn("lo", col("hi") - col("cnt"))
      .withColumn("n", sum("cnt").over(Window.partitionBy("col_name")))
    import s.implicits._
    val ps = probs.toDF("p")
    val inK = col("k") >= col("lo") && col("k") < col("hi")
    val inK1 = col("k") + 1 >= col("lo") && col("k") + 1 < col("hi")
    val picked = h.crossJoin(F.broadcast(ps))
      .withColumn("idx", col("p") * (col("n") - 1))
      .withColumn("k", floor(col("idx")).cast("long"))
      .filter(inK || inK1)
      .groupBy("col_name", "p")
      .agg(
        max(when(inK, col("v"))).as("vk"),
        max(when(inK1, col("v"))).as("vk1"),
        max(col("idx") - col("k")).as("frac"))
      .select(col("col_name"), col("p"),
        round(col("vk") + col("frac") *
          (coalesce(col("vk1"), col("vk")) - col("vk")), dp).as("value"))
    // a fully-null column leaves no histogram rows; left-join the
    // (col × prob) grid so it still emits (col, p, null) — the same
    // contract as percentile()/quantile_cont on an all-null input
    val grid = cols.toDF("col_name").crossJoin(ps)
    grid.join(picked, Seq("col_name", "p"), "left")
      .select(col("col_name"), col("p"), col("value"))
      .orderBy("col_name", "p")
  }
}
