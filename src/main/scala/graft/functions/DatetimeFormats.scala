package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Datetime format discovery (SURVEY §2.4; reference
  * datetime_column_profile.py:25-42 hardcodes 16 strptime formats and
  * `_match_datetime_formats` :230-330 records which ones fire).
  *
  * Each candidate ships three synchronized representations:
  *  - a Java pattern for actual parsing (`try_to_timestamp`, Spark-side
  *    profiling),
  *  - a shape regex in the RE2∩Java subset (cross-engine discovery —
  *    regex counts are deterministic in both Spark and DuckDB, where
  *    strptime laxness could differ),
  *  - the strptime string (documentation of reference lineage).
  *
  * Discovery reads the profile's head sample on the driver: a format is
  * discovered when its shape regex finds a match in one of a column's
  * first 50 values with the day suffixes stripped (the reference's
  * 50-row pre-test, `:392-410`; `Profiler.headRules`). [[matches]] and
  * [[parsed]] are the same rules as Spark columns.
  */
object DatetimeFormats {

  final case class Fmt(java: String, regex: String, strptime: String)

  /** The discovery candidates, mirroring the reference's format table. */
  val formats: Seq[Fmt] = Seq(
    Fmt("yyyy-MM-dd'T'HH:mm:ss", "^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}$", "%Y-%m-%dT%H:%M:%S"),
    Fmt("yyyy-MM-dd HH:mm:ss", "^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}$", "%Y-%m-%d %H:%M:%S"),
    Fmt("yyyy-MM-dd", "^[0-9]{4}-[0-9]{2}-[0-9]{2}$", "%Y-%m-%d"),
    Fmt("yyyy/MM/dd", "^[0-9]{4}/[0-9]{2}/[0-9]{2}$", "%Y/%m/%d"),
    Fmt("MM/dd/yyyy", "^[0-9]{2}/[0-9]{2}/[0-9]{4}$", "%m/%d/%Y"),
    Fmt("MM/dd/yy", "^[0-9]{2}/[0-9]{2}/[0-9]{2}$", "%m/%d/%y"),
    Fmt("dd/MM/yyyy", "^[0-9]{2}/[0-9]{2}/[0-9]{4}$", "%d/%m/%Y"),
    Fmt("MM-dd-yyyy", "^[0-9]{2}-[0-9]{2}-[0-9]{4}$", "%m-%d-%Y"),
    Fmt("MMM dd, yyyy", "^[A-Z][a-z]{2} [0-9]{2}, [0-9]{4}$", "%b %d, %Y"),
    Fmt("MMMM dd, yyyy", "^[A-Z][a-z]{3,8} [0-9]{2}, [0-9]{4}$", "%B %d, %Y"),
    Fmt("dd MMM yyyy", "^[0-9]{2} [A-Z][a-z]{2} [0-9]{4}$", "%d %b %Y"),
    Fmt("yyyyMMdd", "^[0-9]{8}$", "%Y%m%d"),
    Fmt("HH:mm:ss", "^[0-9]{2}:[0-9]{2}:[0-9]{2}$", "%H:%M:%S"),
    Fmt("yyyy-MM-dd HH:mm", "^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}$", "%Y-%m-%d %H:%M"),
    Fmt("MM/dd/yyyy HH:mm", "^[0-9]{2}/[0-9]{2}/[0-9]{4} [0-9]{2}:[0-9]{2}$", "%m/%d/%Y %H:%M"),
    Fmt("EEE MMM dd HH:mm:ss yyyy", "^[A-Z][a-z]{2} [A-Z][a-z]{2} [0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2} [0-9]{4}$", "%a %b %d %H:%M:%S %Y"))

  /** Ordinal day-suffix strip pre-pass (reference
    * datetime_column_profile.py:47-54): `March 23rd, 2022` → `March 23,
    * 2022` before any shape/parse check. Capture-group form (not
    * lookbehind) so the same pattern runs under both Java regex and
    * DuckDB's RE2 (`regexp_replace(..., '\\1', 'g')` on the oracle
    * side). */
  val daySuffixPattern = "([0-9])(st|nd|rd|th)"
  def stripDaySuffix(c: Column): Column =
    regexp_replace(c, daySuffixPattern, "$1")

  /** Shape-match predicate for one format (after suffix strip). */
  def matches(c: Column, f: Fmt): Column = {
    val s = stripDaySuffix(c)
    c.isNotNull && s.rlike(f.regex)
  }

  /** Actual parse under one format (Spark-side; null on mismatch). */
  def parsed(c: Column, f: Fmt): Column =
    try_to_timestamp(stripDaySuffix(c), lit(f.java))
}
