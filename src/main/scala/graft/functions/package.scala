package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level building blocks shared by the profiler and the query
  * inventory. Everything here is a pure Catalyst expression (whole-stage
  * codegen'd) — no UDFs.
  *
  * Regex patterns are kept inside the RE2/Java-regex common subset so the
  * DuckDB oracle evaluates them identically.
  */
package object functions {

  /** HALF_UP on the value's decimal-string representation — the
    * rounding Spark's `round()` and DuckDB's `round()` both apply
    * (half away from zero on the shortest decimal rep), so DRIVER-SIDE
    * census math stays bit-identical to the oracle SQL. The single
    * definition of the repo's rounding-parity contract — keep every
    * driver-side rounding call on this helper. */
  /** `cache()` unless the plan is ALREADY in the session cache (a
    * CacheManager lookup by canonicalized plan — what
    * `DataFrame.storageLevel` consults). The CacheManager dedups
    * double-registrations anyway, but logs a `WARN Asked to cache
    * already cached data` each time; lazily-returned queries that cache
    * a shared subplan (two dedup queries over the same signature
    * lineage, a suite building every query in one session) would bury a
    * REAL double-cache regression under that noise. Idempotent caching
    * keeps the warning meaningful. */
  def cacheOnce(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.cache()
    else df

  /** Drop the blocks of a `localCheckpoint()`ed frame. They belong to
    * the checkpointed RDD behind its LogicalRDD leaf, NOT to a
    * CacheManager entry — `df.unpersist()` on it is a no-op, so they
    * would linger until ContextCleaner GC. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  def roundHalfUp(x: Double, dp: Int): Double =
    // NaN/±Inf pass through like Spark's round() (BigDecimal would throw
    // NumberFormatException — a degenerate census slice, e.g. n == 0 or
    // pe == 1.0, must yield NaN rows, not a crash)
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** String parses as an integer; "4.0" counts as int, mirroring the
    * reference's is_int (numerical_column_stats.py:2025-2046). */
  val IntRegex = "^\\s*[+-]?[0-9]+(\\.0*)?\\s*$"

  /** String parses as a float (numerical_column_stats.py:2004-2024). */
  val FloatRegex =
    "^\\s*[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?\\s*$"

  /** ISO-ish datetime forms; the full 16-format discovery of
    * datetime_column_profile.py:25-42 lives in DatetimeFormats. */
  val DatetimeRegex =
    "^\\s*[0-9]{4}-[0-9]{2}-[0-9]{2}([ T][0-9]{2}:[0-9]{2}(:[0-9]{2})?)?\\s*$"

  /** Null sentinel set of the reference (profile_builder.py:107-122):
    * empty/whitespace, nan, none, null, dashes, underscores. */
  val NullSentinelRegex = "(?i)^(\\s*|nan|none|null|--+|-|__+|_)$"

  def isIntStr(c: Column): Column = c.isNotNull && c.rlike(IntRegex)
  def isFloatStr(c: Column): Column = c.isNotNull && c.rlike(FloatRegex)
  def isDatetimeStr(c: Column): Column = c.isNotNull && c.rlike(DatetimeRegex)
  def isNullSentinel(c: Column): Column = c.isNull || c.rlike(NullSentinelRegex)

  /** Boolean predicate → 1/0 for counting. Coalesced to 0 so a GLOBAL
    * aggregate over zero rows counts 0, matching SQL `count(*) FILTER`
    * (plain `sum` yields NULL there — the one place the two count
    * idioms diverge; grouped aggregates never see an empty group, so
    * non-empty behavior is untouched). */
  def cnt(pred: Column): Column =
    coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))

  /** Ratio of rows matching pred over all rows (nulls count in denominator).
    * Zero-row inputs yield null, not an ANSI divide-by-zero error. */
  def ratio(pred: Column): Column =
    try_divide(cnt(pred).cast("double"), count(lit(1)))
}
