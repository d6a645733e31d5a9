package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{cnt, DatetimeFormats, OrderDetect}

/** Per-column shape statistics (SURVEY §2.4 gaps closed in round 3):
  * order detection, datetime format discovery, float precision, char
  * vocabulary, exact mode, validators, and row-null ratios — each a
  * single-scan aggregation with a DuckDB oracle.
  */
object ColumnStatQueries extends QueryModule {

  // --------------------------------------------------------- order_detect
  private val orderCols =
    Seq("constant", "key_asc", "key_desc", "price_random")

  /** Order detection over four columns with known order when rows are
    * keyed by o_orderkey. Spark side runs [[OrderDetect]] — range
    * partitioning + per-partition forward scans + driver seam-merge, NOT
    * a single-partition global window (order_column_profile.py:374-413
    * reimagined for a cluster). */
  private def orderDetection(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders").select(
      col("o_orderkey").as("k"),
      col("o_orderkey").as("key_asc"),
      (-col("o_orderkey")).as("key_desc"),
      lit(7L).as("constant"),
      col("o_totalprice").as("price_random"))
    OrderDetect.toDF(o, "k", orderCols)
  }

  private val orderDetectionSql = orderCols.map { c =>
    s"""SELECT '$c' AS col_name,
       |  CASE WHEN count(*) FILTER (d > 0) = 0
       |         AND count(*) FILTER (d < 0) = 0 THEN 'constant'
       |       WHEN count(*) FILTER (d < 0) = 0 THEN 'ascending'
       |       WHEN count(*) FILTER (d > 0) = 0 THEN 'descending'
       |       ELSE 'random' END AS order_type,
       |  count(*) FILTER (d > 0) AS n_incr,
       |  count(*) FILTER (d < 0) AS n_decr,
       |  count(*) FILTER (d = 0) AS n_eq
       |FROM (
       |  SELECT CASE WHEN v > pv THEN 1 WHEN v < pv THEN -1 ELSE 0 END AS d
       |  FROM (
       |    SELECT v, lag(v) OVER (ORDER BY k) AS pv
       |    FROM (SELECT o_orderkey AS k,
       |            CASE '$c'
       |              WHEN 'key_asc' THEN CAST(o_orderkey AS DOUBLE)
       |              WHEN 'key_desc' THEN CAST(-o_orderkey AS DOUBLE)
       |              WHEN 'constant' THEN 7.0
       |              ELSE o_totalprice END AS v
       |          FROM orders) base) lagged
       |  WHERE pv IS NOT NULL) diffs""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ----------------------------------------------------- datetime_formats
  /** Format discovery: five display formats synthesized from o_orderdate,
    * probed by all candidate shape regexes as sibling count-aggregates in
    * ONE scan (datetime_column_profile.py:230-330; the regex shapes make
    * the counts engine-exact where strptime laxness would not be). */
  private def datetimeFormats(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val m = col("o_orderkey") % 6
    val d = col("o_orderdate")
    // ordinal suffix for the `March 03rd, 2022`-style arm (stripped by
    // DatetimeFormats.stripDaySuffix before shape-matching)
    val day = dayofmonth(d)
    val sfx = when((day % 100).isin(11, 12, 13), lit("th"))
      .when(day % 10 === 1, lit("st"))
      .when(day % 10 === 2, lit("nd"))
      .when(day % 10 === 3, lit("rd"))
      .otherwise(lit("th"))
    val cell = when(m === 0, date_format(d, "yyyy-MM-dd"))
      .when(m === 1, date_format(d, "MM/dd/yyyy"))
      .when(m === 2, date_format(d, "yyyy-MM-dd HH:mm:ss"))
      .when(m === 3, date_format(d, "MMM dd, yyyy"))
      .when(m === 4, concat(date_format(d, "MMMM dd"), sfx,
        lit(", "), date_format(d, "yyyy")))
      .otherwise(date_format(d, "yyyyMMdd"))
    val cells = o.select(cell.as("cell"))
    // index-based aliases: strptime strings differing only by case (%y vs
    // %Y) would collide under Spark's case-insensitive column resolution.
    // ONE graft_dateshape walk per cell replaces 16 regex Matchers + 16
    // suffix-strip regexp_replaces (bitmask property-tested equal to the
    // per-format shape regexes)
    val aggs = DatetimeFormats.formats.indices.map { i =>
      cnt(shiftright(col("msk"), i).bitwiseAND(lit(1)) === 1).as(s"f$i")
    }
    val stackArgs = DatetimeFormats.formats.zipWithIndex
      .map { case (f, i) => s"'${f.strptime}', `f$i`" }.mkString(", ")
    cells
      .select(graft.functions.DateShapeMask(col("cell")).as("msk"))
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${DatetimeFormats.formats.size}, $stackArgs)" +
        " AS (fmt, n_matched)"))
      .orderBy("fmt")
  }

  private val datetimeFormatsSql = {
    val sfx = """CASE WHEN day(o_orderdate) % 100 IN (11, 12, 13) THEN 'th'
      |      WHEN day(o_orderdate) % 10 = 1 THEN 'st'
      |      WHEN day(o_orderdate) % 10 = 2 THEN 'nd'
      |      WHEN day(o_orderdate) % 10 = 3 THEN 'rd'
      |      ELSE 'th' END""".stripMargin
    val cell = s"""CASE o_orderkey % 6
      |    WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
      |    WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
      |    WHEN 2 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
      |    WHEN 3 THEN strftime(o_orderdate, '%b %d, %Y')
      |    WHEN 4 THEN strftime(o_orderdate, '%B %d') || $sfx
      |                || ', ' || strftime(o_orderdate, '%Y')
      |    ELSE strftime(o_orderdate, '%Y%m%d') END""".stripMargin
    // same suffix-strip pre-pass as DatetimeFormats.stripDaySuffix
    // (capture-group form: RE2 has no lookbehind)
    val stripped =
      s"regexp_replace(cell, '${DatetimeFormats.daySuffixPattern}', '\\1', 'g')"
    val counts = DatetimeFormats.formats.map(f =>
      s"SELECT '${f.strptime.replace("'", "''")}' AS fmt, " +
        s"count(*) FILTER (regexp_matches($stripped, '${f.regex}')) AS n_matched " +
        "FROM cells").mkString("\nUNION ALL\n")
    s"WITH cells AS (SELECT $cell AS cell FROM orders)\n$counts\nORDER BY fmt"
  }

  // ------------------------------------------------------ float_precision
  /** Significant-digit statistics over the string form of decimals
    * (float_column_profile.py:282-400): strip sign, drop the point, strip
    * leading and trailing zeros, count what remains — then standard
    * moments over the per-value precision. One scan. */
  private def floatPrecision(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val k = col("l_orderkey")
    val cell = concat(
      when(k % 7 === 0, lit("-")).otherwise(lit("")),
      (k % 1000).cast("string"), lit("."),
      lpad((k % 10000).cast("string"), 4, "0"))
    val prec = length(
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        cell, "^[+-]", ""), "\\.", ""), "^0+", ""), "0+$", ""))
    li.select(prec.cast("double").as("p"))
      .agg(
        count(lit(1)).as("n"),
        min("p").cast("long").as("min_prec"),
        max("p").cast("long").as("max_prec"),
        round(avg("p"), 6).as("mean_prec"),
        round(stddev_pop(col("p")), 6).as("std_prec"))
  }

  private val floatPrecisionSql =
    """SELECT count(*) AS n,
      |  CAST(min(p) AS BIGINT) AS min_prec,
      |  CAST(max(p) AS BIGINT) AS max_prec,
      |  round(avg(p), 6) AS mean_prec,
      |  round(stddev_pop(p), 6) AS std_prec
      |FROM (
      |  SELECT CAST(length(regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(cell, '^[+-]', ''), '\.', ''), '^0+', ''),
      |    '0+$', '')) AS DOUBLE) AS p
      |  FROM (
      |    SELECT (CASE WHEN l_orderkey % 7 = 0 THEN '-' ELSE '' END) ||
      |      CAST(l_orderkey % 1000 AS VARCHAR) || '.' ||
      |      lpad(CAST(l_orderkey % 10000 AS VARCHAR), 4, '0') AS cell
      |    FROM lineitem) cells) p""".stripMargin

  // ----------------------------------------------------------- char_vocab
  private val vocabCols = Seq("lang", "source", "text")

  /** Distinct-character vocabulary per string column
    * (text_column_profile.py:134-157): explode to chars, one groupBy per
    * column over the (tiny) char alphabet. At scale the map-side partial
    * countDistinct keeps the shuffle bounded by the alphabet size. */
  private def charVocab(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    vocabCols.map { c =>
      d.select(explode(split(col(c), "")).as("ch"))
        .filter(col("ch") =!= "")
        .agg(countDistinct("ch").as("vocab_size"))
        .select(lit(c).as("col_name"), col("vocab_size"))
    }.reduce(_ unionAll _).orderBy("col_name")
  }

  private val charVocabSql = vocabCols.map { c =>
    s"""SELECT '$c' AS col_name, count(DISTINCT ch) AS vocab_size
       |FROM (SELECT unnest(string_split($c, '')) AS ch FROM documents) t
       |WHERE ch != ''""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ----------------------------------------------------------------- mode
  private val modeCols = Seq("l_quantity", "l_discount", "l_tax")

  /** Exact mode per numeric column with deterministic tie-break (count
    * desc, value asc) — the reference estimates mode from histogram bins
    * (numerical_column_stats.py:1082-1115); exact groupBy is the
    * oracle-comparable full-data mode. */
  private def modeQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val melted = li.select(explode(array(modeCols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("double").as("value"))): _*))
      .as("kv"))
      .select(col("kv.col_name"), col("kv.value"))
    val counts = melted.groupBy("col_name", "value")
      .agg(count(lit(1)).as("cnt"))
    // argmax (cnt desc, value asc) as a min_by combine over (-cnt, value):
    // partial-aggregable on the same exchange, no per-column sort
    counts.groupBy("col_name")
      .agg(
        min_by(col("value"), struct(-col("cnt"), col("value")))
          .as("mode_value"),
        max("cnt").as("mode_count"))
      .orderBy("col_name")
  }

  private val modeSql = modeCols.map { c =>
    s"""SELECT '$c' AS col_name, value AS mode_value, cnt AS mode_count
       |FROM (SELECT CAST($c AS DOUBLE) AS value, count(*) AS cnt
       |      FROM lineitem GROUP BY 1
       |      ORDER BY cnt DESC, value ASC LIMIT 1) m""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ------------------------------------------------------------ validators
  /** Config-driven validators (validators/base_validators.py:12-38):
    * is_in_range / is_in_list as conditional counts in one scan. */
  private def validators(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.agg(
      count(lit(1)).as("n"),
      cnt(col("o_totalprice").between(50000, 200000)).as("n_in_range"),
      cnt(col("o_orderstatus").isin("F", "O")).as("n_in_list"),
      round(try_divide(cnt(col("o_totalprice").between(50000, 200000))
        .cast("double"), count(lit(1))), 6).as("range_ratio"))
  }

  private val validatorsSql =
    """SELECT count(*) AS n,
      |  count(*) FILTER (o_totalprice BETWEEN 50000 AND 200000) AS n_in_range,
      |  count(*) FILTER (o_orderstatus IN ('F', 'O')) AS n_in_list,
      |  round(count(*) FILTER (o_totalprice BETWEEN 50000 AND 200000)
      |    / CAST(count(*) AS DOUBLE), 6) AS range_ratio
      |FROM orders""".stripMargin

  // ------------------------------------------------------------ cat_heavy
  private val HeavyCap = 128

  /** Heavy hitters via the SKETCH path end-to-end — the over-cap escape
    * hatch the profiler uses when a categorical column blows past
    * maxCategories (reference stop-condition + CMS mode,
    * categorical_column_profile.py:478-573). Pass 1 is ONE aggregation
    * producing both a Misra-Gries candidate summary (any value with
    * frequency > n/(cap+1) is guaranteed a slot, independent of
    * partition layout) and a count-min sketch; pass 2 recounts the
    * ≤cap candidates exactly through a map-side pruned scan. At
    * 100 TB: bounded sketch state per partition, candidate set ≤cap,
    * recount is a broadcast-pruned scan — never a full-NDV shuffle.
    * Each reported value's CMS estimate is checked against the sketch
    * GUARANTEE — cnt ≤ est ≤ cnt + ⌈eps·n⌉ — and the boolean rides the
    * hash (a raw-estimate pin would assert zero collisions, which a
    * fixture change could legitimately break: CMS only promises a
    * bounded overestimate). */
  private def catHeavy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id").cast("string").as("v"))
      .filter(col("v").isNotNull)
    val row = ev.agg(
      graft.functions.MisraGriesAggregate(col("v"), HeavyCap).as("cand"),
      count_min_sketch(col("v"), lit(0.001), lit(0.99), lit(42)).as("cms"),
      count(lit(1)).as("n")).head()
    val cand = row.getAs[Map[String, Long]]("cand").keys.toSeq
    val n = row.getAs[Long]("n")
    val sketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("cms")))
    val est = cand.map(v => (v, sketch.estimateCount(v))).toDF("v", "cms_est")
    val slack = math.ceil(0.001 * n).toLong // the sketch's eps
    ev.filter(col("v").isin(cand: _*))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (HeavyCap + 1) > n)
      .join(broadcast(est), "v")
      .select(col("v").cast("long").as("user_id"), col("cnt"),
        (col("cms_est") >= col("cnt") &&
          col("cms_est") <= col("cnt") + lit(slack)).as("cms_in_bound"))
      .orderBy("user_id")
  }

  private val catHeavySql =
    s"""WITH t AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events
       |           WHERE user_id IS NOT NULL),
       |nn AS (SELECT count(*) AS n FROM t),
       |hh AS (SELECT v, count(*) AS cnt FROM t GROUP BY v)
       |SELECT CAST(v AS BIGINT) AS user_id, CAST(cnt AS BIGINT) AS cnt,
       |  TRUE AS cms_in_bound
       |FROM hh, nn WHERE cnt * ${HeavyCap + 1} > n
       |ORDER BY user_id""".stripMargin

  // -------------------------------------------------------- row_null_stats
  /** row_has_null / row_is_null ratios (profile_builder.py:2253-2298) via
    * boolean flags in one pass — no per-null-type index sets needed. The
    * corpus has no physical nulls, so two deterministic masks stand in. */
  private def rowNullStats(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .withColumn("v", when(col("event_id") % 7 === 0, lit(null))
        .otherwise(col("value")))
      .withColumn("u", when(col("event_id") % 3 === 0, lit(null))
        .otherwise(col("user_id")))
    val hasNull = col("v").isNull || col("u").isNull
    val isNull = col("v").isNull && col("u").isNull
    ev.agg(
      count(lit(1)).as("n"),
      cnt(hasNull).as("n_has_null"),
      cnt(isNull).as("n_is_null"),
      round(try_divide(cnt(hasNull).cast("double"), count(lit(1))), 6)
        .as("row_has_null_ratio"),
      round(try_divide(cnt(isNull).cast("double"), count(lit(1))), 6)
        .as("row_is_null_ratio"))
  }

  private val rowNullStatsSql =
    """SELECT count(*) AS n,
      |  count(*) FILTER (v IS NULL OR u IS NULL) AS n_has_null,
      |  count(*) FILTER (v IS NULL AND u IS NULL) AS n_is_null,
      |  round(count(*) FILTER (v IS NULL OR u IS NULL)
      |    / CAST(count(*) AS DOUBLE), 6) AS row_has_null_ratio,
      |  round(count(*) FILTER (v IS NULL AND u IS NULL)
      |    / CAST(count(*) AS DOUBLE), 6) AS row_is_null_ratio
      |FROM (SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v,
      |        CASE WHEN event_id % 3 = 0 THEN NULL ELSE user_id END AS u
      |      FROM events) t""".stripMargin

  // ------------------------------------------------------------ bin_suggest
  /** Bin-method suggestion formulas end-to-end under the oracle
    * (histogram_utils.py:85-238): one stats scan — Spark's `var_pop` and
    * `skewness` are exactly the population m2/n and biased g1 the
    * estimators need (stable incremental central moments, no E[x³]
    * cancellation) — plus exact quartiles by SORT-SELECT (range-
    * partitioned sort, pick the 4 bracketing rows by global index,
    * interpolate like `quantile_cont`). On a continuous column NDV ≈ n,
    * so both `percentile()`'s value buffer and the value-histogram
    * degenerate; the sort is the shape that scales. Then
    * [[graft.functions.BinMethods.suggestedBins]] driver math; the
    * oracle restates every estimator formula in SQL, so a drifted
    * constant (3.49, 2·IQR, Doane's σ_g1) breaks the hash. */
  private def binSuggest(s: SparkSession, dir: String): DataFrame =
    binSuggestImpl(s, dir, exact = true)

  /** Sketch-mode twin (benched, not hash-compared): the quartiles come
    * from a GK `percentile_approx` folded into the SAME stats
    * aggregation, so the whole suggestion is ONE scan — the 100 TB
    * deployment path, where the exact sort-select's range-partitioned
    * sort is the verification mode. Estimator error is bins-level only
    * (scott/fd read the IQR); measured vs the exact oracle in
    * SCALING.md. */
  def binSuggestApprox(s: SparkSession, dir: String): DataFrame =
    binSuggestImpl(s, dir, exact = false)

  private def binSuggestImpl(s: SparkSession, dir: String,
      exact: Boolean): DataFrame = {
    import graft.profiler.NumericStats
    import graft.functions.BinMethods
    import s.implicits._
    val x = Tables.load(s, dir, "lineitem")
      .select(col("l_extendedprice").cast("double").as("x"))
      .filter(col("x").isNotNull)
    val baseAggs = Seq(
      count(lit(1)).as("n"), avg("x").as("mu"),
      min("x").as("mn"), max("x").as("mx"),
      var_pop("x").as("vp"), skewness("x").as("g1"))
    val aggs =
      if (exact) baseAggs
      else baseAggs :+
        expr("percentile_approx(x, array(0.25D, 0.75D), 10000)").as("qq")
    val r = x.agg(aggs.head, aggs.tail: _*).head()
    val n = r.getAs[Long]("n")
    if (n == 0) // suggestedBins' n<2 contract without touching null stats
      return BinMethods.Methods.map(_ -> 1L)
        .toDF("method", "bins").orderBy("method")
    val mu = r.getAs[Double]("mu")
    val vp = r.getAs[Double]("vp")
    val g1 = Option(r.get(r.fieldIndex("g1")))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    // m2 = n·var_pop; m3 back-solved so skewnessBiased == Spark's g1
    val m2 = vp * n
    val m3 = g1 * n * math.pow(vp, 1.5)
    val quart =
      if (exact) graft.functions.ExactQuantiles
        .bySortSelect(x, "x", Seq(0.25, 0.75))
      else {
        val qq = r.getSeq[Double](r.fieldIndex("qq"))
        Map(0.25 -> qq(0), 0.75 -> qq(1))
      }
    val stats = NumericStats(n, mu, m2, m3, 0.0, r.getAs[Double]("mn"),
      r.getAs[Double]("mx"), 0.0, 0L, 0L, 0L, quart)
    BinMethods.suggestedBins(stats).toSeq
      .map { case (m, b) => (m, b.toLong) }
      .toDF("method", "bins").orderBy("method")
  }

  private val binSuggestSql =
    """WITH base AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
      |s1 AS (SELECT count(*) AS n, avg(x) AS mu, min(x) AS mn, max(x) AS mx,
      |         quantile_cont(x, 0.25) AS q25, quantile_cont(x, 0.75) AS q75
      |       FROM base),
      |s2 AS (SELECT avg((x - mu) ^ 2) AS v2, avg((x - mu) ^ 3) AS v3
      |       FROM base, s1),
      |p AS (SELECT n, mx - mn AS rng, sqrt(v2) AS std, q75 - q25 AS iqr,
      |        v3 / v2 ^ 1.5 AS g1, cbrt(n) AS cb
      |      FROM s1, s2),
      |sugg AS (SELECT
      |    CAST(greatest(1, ceil(ln(n) / ln(2)) + 1) AS BIGINT) AS sturges,
      |    CAST(greatest(1, ceil(sqrt(n))) AS BIGINT) AS sqrt_n,
      |    CAST(greatest(1, ceil(2 * cb)) AS BIGINT) AS rice,
      |    CAST(CASE WHEN 3.49 * std / cb <= 0 THEN 1
      |      ELSE greatest(1, ceil(rng / (3.49 * std / cb))) END AS BIGINT)
      |      AS scott,
      |    CAST(CASE WHEN 2 * iqr / cb <= 0 THEN 1
      |      ELSE greatest(1, ceil(rng / (2 * iqr / cb))) END AS BIGINT) AS fd,
      |    CAST(greatest(1, ceil(1 + ln(n) / ln(2) +
      |      ln(1 + abs(g1) / sqrt(6.0 * (n - 2) / ((n + 1) * (n + 3))))
      |        / ln(2))) AS BIGINT) AS doane
      |  FROM p)
      |SELECT method, bins FROM (
      |  SELECT 'sturges' AS method, sturges AS bins FROM sugg
      |  UNION ALL SELECT 'sqrt', sqrt_n FROM sugg
      |  UNION ALL SELECT 'rice', rice FROM sugg
      |  UNION ALL SELECT 'scott', scott FROM sugg
      |  UNION ALL SELECT 'fd', fd FROM sugg
      |  UNION ALL SELECT 'doane', doane FROM sugg
      |  UNION ALL SELECT 'auto', greatest(fd, sturges) FROM sugg) u
      |ORDER BY method""".stripMargin

  // --------------------------------------------------------- robust_stats
  private val robustCols = Seq("l_quantity", "l_extendedprice", "l_discount")
  private val RobustProbs = Seq(0.1, 0.25, 0.75, 0.9)

  /** Robust (outlier-resistant) column statistics — the profiling layer a
    * quality pipeline reads before trusting the moment stats the reference
    * computes (numerical_column_stats.py:818-1081 gives mean/var/skew;
    * those blow up under heavy tails): exact interpolated quartiles +
    * deciles, Tukey-fence outlier counts (1.5×IQR), the inter-decile
    * trimmed mean, and the winsorized mean (values clamped to [p10, p90]).
    *
    * Two passes, both scale-bounded: the quantile pass reuses
    * [[graft.functions.ExactQuantiles.gated]] (NDV-capped value histogram,
    * GK fallback above the cap), then the collected 4-threshold-per-column
    * map drives ONE conditional-aggregate scan with the fences inlined as
    * literals — the same collect-then-rescan shape as hist_fixed/mad.
    * Thresholds round to 6 dp in BOTH engines before any comparison, so
    * fence tests are bit-identical across Spark and DuckDB. */
  private def robustStats(s: SparkSession, dir: String): DataFrame =
    robustStatsOf(s,
      Tables.load(s, dir, "lineitem")
        .select(robustCols.map(c => col(c).cast("double").as(c)): _*),
      robustCols)

  /** Sketch-mode twin (benched, not hash-compared): the four fence
    * thresholds per column come from one GK `percentile_approx` pass —
    * TWO scans total (thresholds + conditional aggregates) vs the exact
    * mode's NDV-gated histogram / sort-select jobs. The fences feed
    * Tukey counts and trimmed/winsorized means, so sketch error only
    * shifts rows NEAR a fence; measured vs the exact oracle in
    * SCALING.md. */
  def robustStatsApprox(s: SparkSession, dir: String): DataFrame =
    robustStatsOf(s,
      Tables.load(s, dir, "lineitem")
        .select(robustCols.map(c => col(c).cast("double").as(c)): _*),
      robustCols, approx = true)

  /** Core of robust_stats over an arbitrary numeric frame — split out so
    * the all-null-column twin behavior is unit-testable. */
  private[graft] def robustStatsOf(s: SparkSession, li: DataFrame,
      robustCols: Seq[String], approx: Boolean = false): DataFrame = {
    def r6(x: Double) = graft.functions.roundHalfUp(x, 6)
    val th: Map[(String, Double), Double] =
      if (approx) {
        val probArr = RobustProbs.map(p => s"${p}D")
          .mkString("array(", ", ", ")")
        val aggs = robustCols.map(c =>
          expr(s"percentile_approx(`$c`, $probArr, 10000)").as(s"${c}__q"))
        val row = li.agg(aggs.head, aggs.tail: _*).head()
        robustCols.flatMap { c =>
          val i = row.fieldIndex(s"${c}__q")
          if (row.isNullAt(i)) Nil // all-null column: no thresholds
          else row.getSeq[Double](i).zip(RobustProbs)
            .map { case (v, p) => (c, p) -> r6(v) } // 6 dp like the exact mode
        }.toMap
      } else graft.functions.ExactQuantiles
        .gated(li, robustCols, RobustProbs)
        .collect()
        .filterNot(_.isNullAt(2))
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // Per-column threshold availability, mirroring the SQL twin exactly:
    // an ALL-NULL column on a non-empty table still groups (null keys) and
    // emits one null-stat row with n_outliers=0; only an EMPTY table emits
    // zero rows. Dropping EVERY column because ONE lacked thresholds
    // over-emptied the frame (round-11 ADVICE low).
    val fullCols = robustCols.filter(c => RobustProbs.forall(p => th.contains((c, p))))
    val nullCols = robustCols.filterNot(fullCols.contains)
    lazy val emptySchema = {
      import org.apache.spark.sql.types._
      StructType(Seq(
        StructField("col_name", StringType, nullable = false),
        StructField("q1", DoubleType, nullable = true),
        StructField("q3", DoubleType, nullable = true),
        StructField("iqr", DoubleType, nullable = true),
        StructField("n_outliers", LongType, nullable = false),
        StructField("trimmed_mean", DoubleType, nullable = true),
        StructField("winsor_mean", DoubleType, nullable = true)))
    }
    if (fullCols.isEmpty && li.isEmpty) {
      import org.apache.spark.sql.Row
      return s.createDataFrame(new java.util.ArrayList[Row](), emptySchema)
    }
    val nullRows = nullCols.map { c =>
      import org.apache.spark.sql.Row
      Row(c, null, null, null, 0L, null, null)
    }
    val nullDf =
      if (nullRows.isEmpty) None
      else Some(s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(nullRows).asJava),
        emptySchema))
    if (fullCols.isEmpty) return nullDf.get.orderBy("col_name")
    val aggs = fullCols.flatMap { c =>
      val p10 = th((c, 0.1)); val q1 = th((c, 0.25))
      val q3 = th((c, 0.75)); val p90 = th((c, 0.9))
      val lo = q1 - 1.5 * (q3 - q1); val hi = q3 + 1.5 * (q3 - q1)
      val x = col(c)
      Seq(
        sum(when(x < lo || x > hi, 1L).otherwise(0L)).as(s"${c}__out"),
        round(avg(when(x.between(p10, p90), x)), 6).as(s"${c}__trim"),
        round(avg(greatest(least(x, lit(p90)), lit(p10))), 6)
          .as(s"${c}__win"))
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val full = one.select(explode(array(fullCols.map { c =>
        struct(lit(c).as("col_name"),
          lit(th((c, 0.25))).as("q1"), lit(th((c, 0.75))).as("q3"),
          lit(r6(th((c, 0.75)) - th((c, 0.25)))).as("iqr"),
          col(s"${c}__out").as("n_outliers"),
          col(s"${c}__trim").as("trimmed_mean"),
          col(s"${c}__win").as("winsor_mean"))
      }: _*)).as("s"))
      .select(col("s.*"))
    nullDf.fold(full)(full.unionByName(_)).orderBy("col_name")
  }

  private val robustStatsSql = robustCols.map { c =>
    s"""SELECT '$c' AS col_name, q1, q3, round(q3 - q1, 6) AS iqr,
       |  count(*) FILTER ($c < q1 - 1.5 * (q3 - q1)
       |                   OR $c > q3 + 1.5 * (q3 - q1)) AS n_outliers,
       |  round(avg($c) FILTER ($c BETWEEN p10 AND p90), 6) AS trimmed_mean,
       |  round(avg(greatest(least($c, p90), p10)), 6) AS winsor_mean
       |FROM lineitem CROSS JOIN (
       |  SELECT round(quantile_cont($c, 0.1), 6) AS p10,
       |         round(quantile_cont($c, 0.25), 6) AS q1,
       |         round(quantile_cont($c, 0.75), 6) AS q3,
       |         round(quantile_cont($c, 0.9), 6) AS p90
       |  FROM lineitem) t
       |GROUP BY q1, q3, p10, p90""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  override val qs: Seq[Q] = Seq(
    Q("order_detection", orderDetection, Some(orderDetectionSql)),
    Q("robust_stats", robustStats, Some(robustStatsSql)),
    Q("bin_suggest", binSuggest, Some(binSuggestSql)),
    Q("datetime_formats", datetimeFormats, Some(datetimeFormatsSql)),
    Q("float_precision", floatPrecision, Some(floatPrecisionSql)),
    Q("char_vocab", charVocab, Some(charVocabSql)),
    Q("mode", modeQ, Some(modeSql)),
    Q("validators", validators, Some(validatorsSql)),
    Q("cat_heavy", catHeavy, Some(catHeavySql)),
    Q("row_null_stats", rowNullStats, Some(rowNullStatsSql)))
}
