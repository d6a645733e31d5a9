package graft.profiler

import java.util.regex.Pattern
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions._

/** Options mirroring the reference's ProfilerOptions surface
  * (profiler_options.py): category cap = the stop-condition, histogram bin
  * count, quantile grid. */
final case class ProfilerOptions(
    maxCategories: Int = 1000,
    histogramBins: Int = 256,
    quantileProbs: Seq[Double] = Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99),
    computeHistograms: Boolean = true,
    computeCategories: Boolean = true,
    computeCorrelation: Boolean = true,
    computeLabels: Boolean = true,
    /** Values per column sent to the entity labeler — the reference caps
      * the labeler sample at 1000 (data_labeler_column_profile.py:34).
      * The labeler reads the first this-many rows of the profile's one
      * head sample (the rows `df.head(n)` returns, with every column), so
      * this also sizes that sample when labels are on and a string column
      * exists: the scan segments keep up to this many rows of each of the
      * first 16 input partitions (per split group under
      * [[Profiler.profileSplit]]). */
    labelerSampleSize: Int = 1000,
    /** Distinct-char vocabulary per string column
      * (text_column_profile.py:134-157). */
    computeVocab: Boolean = true,
    /** Cap on the stored vocab char set (alphabets are small; the cap
      * guards against binary-garbage columns). */
    vocabCap: Int = 1000,
    /** Code points scanned per value for the vocab — a length cap so one
      * pathological multi-MB value can't dominate pass 1. Vocab is
      * computed over every row (the true vocab, not a sample). */
    vocabCharsPerValue: Int = 1000,
    /** Natural-scan-order detection per column
      * (order_column_profile.py:374-413). */
    computeOrder: Boolean = true,
    /** Count-min-sketch heavy hitters for over-cap categorical columns
      * (categorical_column_profile.py:523-573). */
    cmsHeavyHitters: Boolean = true,
    cmsEps: Double = 0.001,
    cmsConfidence: Double = 0.99,
    heavyHitterK: Int = 20,
    /** Misra-Gries candidate-summary capacity: any value with frequency
      * > n/(capacity+1) is guaranteed a candidate slot, independent of
      * row order/partition layout (a head sample has no such guarantee
      * on sorted data). */
    hhCandidates: Int = 256,
    /** Relative standard deviation of the HLL NDV sketches — the
      * reference's register_count knob (profiler_options.py:1078-1090).
      * Drives the DataSketches lgK via rsd ≈ 1.04/√(2^lgK); the default
      * 0.008 ≈ 2^14 registers. The datetime distinct-day counts
      * (`DatetimeStats.nDays`) use the same DataSketches HLL at the same
      * lgK, over the epoch-day number of each value's date. */
    ndvRsd: Double = 0.008,
    /** Sampling floor per column (the reference's min_true_samples,
      * profile_builder.py:640-647): when > 0, [[Profiler.profileSampled]]
      * doubles the sample fraction until every column has at least this
      * many non-null values in the sample (or the sample is the whole
      * table). 0 = the plain max(0.2n, 5000) contract. */
    minTrueSamples: Int = 0,
    /** Global null-sentinel override (profile_builder.py:107-122
      * `null_values`): a regex; string cells matching it are treated as
      * null by EVERY stat in the profile. None = only physical nulls
      * (the default, matching Spark's reader contract). The query-side
      * twin is [[graft.functions.NullSentinelRegex]]. */
    nullValues: Option[String] = None,
    /** Per-column null-sentinel overrides (profile_builder.py:107-122
      * `column_null_values`): column name → regex, taking precedence
      * over [[nullValues]] for that column. Columns absent here use the
      * global setting. */
    columnNullValues: Map[String, String] = Map.empty,
    /** Fail-fast cap on [[Profiler.profileSplit]]'s key cardinality. The
      * split contract is "k chunk profiles" with k SMALL: pass 1 collects
      * one WIDE row per key (HLL sketches + histogram buffers + quantile
      * arrays, ~tens of KB each) and the segment pass collects
      * O(partitions × keys × columns) order summaries plus up to the
      * head-sample size of rows per key from each of the first 16
      * partitions — a high-cardinality id
      * column would OOM the driver instead of erroring. Enforced before
      * pass 1 by a narrow exact count of the distinct keys (one
      * column-pruned scan, one long to the driver), unless
      * [[keyDomainBounded]] skips it. */
    maxGroups: Int = 4096,
    /** Caller CONTRACT flag for [[Profiler.profileSplit]]: true asserts
      * the split key's cardinality is bounded by construction (an
      * arithmetic image like `x % k`, a boolean cast, a calendar year —
      * every ProfileQueries composite), so the [[maxGroups]] distinct
      * count, one narrow scan of the input per call, is skipped. A wrong
      * assertion is still caught by an exact require after pass 1's
      * collect (so it protects correctness and the later passes, not
      * pass 1's driver memory — which is why the flag defaults to false
      * and is opt-in per call site). */
    keyDomainBounded: Boolean = false,
    /** Head-sample exemplars (5 distinct values per column from the
      * first 100 rows, profile_builder.py:665-668). They read the
      * profile's one head sample, which this option sizes to at least
      * 100 rows. The sample rides the scan segments: inside pass 1 on
      * the whole frame, and in the one segment pass under
      * [[Profiler.profileSplit]], which takes every group's sample at
      * once. With labels off, no datetime-like string column and no
      * order to detect, exemplars are a split's only reason for that
      * pass, so turning them off saves its job: composite consumers
      * whose emitted output never includes exemplars (the
      * gate/diff/merge oracle queries) do. */
    computeExemplars: Boolean = true) {

  /** DataSketches lgConfigK from the rsd contract rsd ≈ 1.04/√m. */
  def ndvLgK: Int = math.max(4, math.min(20, math.round(
    math.log((1.04 / ndvRsd) * (1.04 / ndvRsd)) / math.log(2.0)).toInt))
}

/** Computes a mergeable [[Profile]] of any DataFrame.
  *
  * Execution shape (SURVEY §3 "Spark shape"): the reference's per-column
  * process pools collapse into ONE pass-set, run either on the whole
  * frame ([[profile]]) or grouped by an integral split key
  * ([[profileSplit]]). Every aggregating pass groups with
  * `groupBy(key.toSeq: _*)`: with no key that is exactly `df.agg` — a
  * global aggregation with a single-partition final and one result row
  * even on empty input; with a key, the same expressions yield one row
  * per group, so the scan count is independent of the number of groups.
  *   pass 1 — the fused aggregation, ONE job: every column contributes
  *            sibling aggregate expressions (its native column-stats
  *            aggregate — counts, moments, extremes, lengths, type
  *            ratios — plus the NDV, quantile, histogram, CMS and
  *            Misra-Gries sketches, and for a string column its exact
  *            category counts up to a ceiling, its code-point
  *            vocabulary and its parsed datetime extremes under every
  *            candidate format), with the table-level row stats and one
  *            co-moment aggregate for correlation. On the whole frame it
  *            also carries the scan segments ([[OrderSegmentsAggregate]]:
  *            per input partition, each column's forward-scan order
  *            summary and, for the leading partitions, their first
  *            rows). All are typed imperative aggregates, so the pass
  *            plans as one ObjectHashAggregate scan with map-side
  *            partial aggregation and no generated per-row code.
  *   pass 2 — category counts by melt + groupBy, only for a column whose
  *            NDV estimate qualifies it but whose pass-1 counter passed
  *            its ceiling (normally never).
  *   segment pass — under a split key only: the scan segments of every
  *            group in one ungrouped aggregation keyed by (input
  *            partition, key), when some group has rows and there is an
  *            order to detect or a group needs a head sample.
  *   pass 4 — one head sample per group, the rows `df.head(n)` returns,
  *            feeding label votes (first labelerSampleSize rows),
  *            datetime-format discovery (first 50) and exemplars (first
  *            100), read from the scan segments' head rows (a
  *            `filter(key === k).head(n)` job only for a group whose
  *            first 16 input partitions hold fewer of its rows than the
  *            sample and the group more); the label and format rules
  *            run as plain calls on the driver (FastMatch.label, the
  *            format regexes) — no job, no query plan.
  *   pass 7 — parsed min/max/distinct days of string columns under the
  *            formats pass 4 discovered, read on the driver from pass
  *            1's datetime candidates — no job.
  * The passes run one after another, each only when its input is there
  * to read: pass 1, then pass 2, then the segment pass; none after pass
  * 1 when it counted no rows. A whole-frame profile is pass 1 alone: 1
  * job; a split is the key-domain guard, pass 1 and the segment pass: 3
  * jobs, whatever the group count (the catMelt fallback and the
  * head-sample fallback add to either).
  * Nothing unbounded is collected: category maps are capped, histograms
  * are fixed-width, quantiles use percentile_approx (GK sketch), the
  * head sample is at most max(labelerSampleSize, 100) rows from each of
  * 16 partitions per group, and the datetime candidates hold one entry
  * per set of formats a value parses under.
  */
object Profiler {

  /** Run the profiler's action set with AQE disabled, restoring the
    * session value after (r20). Every exchange a profile pass plans is
    * bounded-cardinality BY CONSTRUCTION: pass 1 is a partial-agg'd
    * global (or ≤ maxGroups-key) aggregation whose exchange carries one
    * sketch row per map task (per key), the category melt aggregates
    * map-side to ≤ qualifying-columns × maxCategories rows, and the
    * split segment pass carries one segment set per map task (with head
    * rows from the first 16 only). Adaptive re-planning has nothing
    * to coalesce or skew-split on such exchanges at ANY scale, while
    * costing one extra job + scheduling barrier per exchange
    * materialization — at bench scale that was roughly half the
    * profiler composites' job counts (stream_gate trace r20). AQE stays
    * ON session-wide for genuinely adaptive plans (joins, wide
    * shuffles); this scopes the opt-out to the profiler's own jobs.
    * NOTE: session-global for the duration (the connectedComponents
    * caveat) — callers running OTHER queries concurrently on the same
    * SparkSession should profile on spark.newSession(). */
  private def withAqeOff[T](spark: org.apache.spark.sql.SparkSession)(
      f: => T): T =
    graft.SessionConfs.withConf(spark, "spark.sql.adaptive.enabled", "false")(f)

  /** Incremental profiling (the reference's `update_profile(chunk)`,
    * profile_builder.py:939-998): profile the chunk, merge into the
    * running state. Because every stat in [[Profile]] is mergeable
    * (moments, histograms, category maps, label votes, correlation
    * co-moments), chunk-by-chunk equals whole-data up to the documented
    * approximations (quantiles re-interpolated from the merged
    * histogram, NDV max-bound). */
  def update(state: Option[Profile], chunk: DataFrame,
      opts: ProfilerOptions = ProfilerOptions()): Profile = {
    val p = profile(chunk, opts)
    state.map(_.merge(p)).getOrElse(p)
  }

  /** The reference's default sampling contract (profile_builder.py:843-858,
    * :736-739): stats over `min(n, max(0.2·n, 5000))` rows. At 100 TB the
    * sampling layer IS the cost control — `df.sample` pushes the
    * Bernoulli filter into the scan, so the profile pass reads a fifth of
    * the data with no shuffle. Full-data mode ([[profile]]) remains the
    * oracle-comparable default. */
  def profileSampled(df: DataFrame,
      opts: ProfilerOptions = ProfilerOptions(), seed: Long = 42): Profile = {
    val n = df.count()
    val target = math.max(0.2 * n, 5000.0)
    if (n <= target) return profile(df, opts)
    var frac = target / n
    var sample = df.sample(withReplacement = false, frac, seed)
    // min_true_samples resample loop (profile_builder.py:640-647): the
    // reference keeps drawing until every column has enough non-null
    // values or the data is exhausted. Each probe is one cheap count-agg
    // over the candidate sample; the fraction doubles, so ≤ log2(1/frac)
    // probes before the sample IS the table (all-null columns can never
    // satisfy the floor and stop the loop at frac = 1).
    if (opts.minTrueSamples > 0) {
      val counts = df.schema.fieldNames.map(c => count(col(c)).as(c))
      var enough = false
      while (!enough && frac < 1.0) {
        val r = sample.agg(counts.head, counts.tail: _*).collect()(0)
        enough = (0 until r.length).forall(i => r.getLong(i) >= opts.minTrueSamples)
        if (!enough) {
          frac = math.min(1.0, frac * 2)
          sample = if (frac >= 1.0) df
            else df.sample(withReplacement = false, frac, seed)
        }
      }
    }
    profile(sample, opts)
  }

  def profile(df: DataFrame, opts: ProfilerOptions = ProfilerOptions()): Profile = {
    val names = df.schema.fieldNames
    // duplicates judged case-INSENSITIVELY: Spark's default resolution is
    // case-insensitive, so "ID" vs "Id" is just as ambiguous as "x" vs "x".
    // Duplicate column names (legal in Spark schemas, e.g. post-join) are
    // profiled under positional unique aliases and restored afterward —
    // the reference's name→indices multimap equivalent
    // (profile_builder.py:1972-2045). Correlation keys are restored too;
    // a same-name numeric pair keeps the last entry.
    val dup = names.map(_.toLowerCase).distinct.length != names.length
    val uniq = names.zipWithIndex.map { case (nm, i) => s"${nm}__pos$i" }
    val src = applyNullValues(if (dup) df.toDF(uniq: _*) else df, opts)
    val p = withAqeOff(df.sparkSession) {
      passSet(src, src.schema.fields.toSeq, None, opts)(0L)
    }
    if (!dup) return p
    val restore = uniq.zip(names).toMap
    p.copy(
      columns = p.columns.map(c =>
        c.copy(name = restore.getOrElse(c.name, c.name))),
      correlationState = p.correlationState.map { case ((a, b), m) =>
        (restore.getOrElse(a, a), restore.getOrElse(b, b)) -> m })
  }

  /** Null-sentinel pre-pass (profile_builder.py:107-122): rewrite each
    * string column whose (per-column, else global) sentinel regex
    * matches to a physical null, so every downstream stat — null counts,
    * row has/is-null, categories, lengths, NDV — sees one consistent
    * null definition. A pure projection: it fuses into pass 1's scan,
    * costing nothing extra at any scale. Duplicate column names share
    * one override (they are profiled positionally but named identically,
    * and the reference keys overrides by name too). */
  private def applyNullValues(df: DataFrame, opts: ProfilerOptions): DataFrame = {
    if (opts.nullValues.isEmpty && opts.columnNullValues.isEmpty) return df
    // reference through positional temp names so duplicate column names
    // (legal post-join) never hit an ambiguous col() lookup
    val names = df.schema.fieldNames.toSeq
    val tmp = df.toDF(names.indices.map(i => s"__nv_c$i"): _*)
    val cols = tmp.schema.fields.toSeq.zip(names).map { case (f, orig) =>
      val pat = opts.columnNullValues.get(orig).orElse(opts.nullValues)
      pat match {
        case Some(re) if f.dataType == StringType =>
          when(col(f.name).rlike(re), lit(null: String))
            .otherwise(col(f.name)).as(orig)
        case _ => col(f.name).as(orig)
      }
    }
    tmp.select(cols: _*)
  }

  /** Registered per-column stat plugins, sorted for deterministic agg
    * order — they ride pass 1 as sibling aggregates (same scan). */
  private def activePlugins: Seq[graft.plugins.ColumnStatPlugin] =
    graft.plugins.PluginRegistry
      .all[graft.plugins.ColumnStatPlugin](graft.plugins.ColumnStatPlugin.Typ)
      .values.toSeq.sortBy(_.name)

  /** Pass-1 aggregate expressions for `fields`: per-column stats plus
    * the table-level row stats, NOT the correlation co-moments. Every
    * one is a typed imperative aggregate (or a projection over one), so
    * the pass plans as one ObjectHashAggregate job. Under a split key
    * the same expressions run grouped, so every group's profile comes
    * from ONE scan. */
  private def pass1Cols(fields: Seq[StructField], opts: ProfilerOptions,
      statPlugins: Seq[graft.plugins.ColumnStatPlugin], timeZoneId: String): Seq[Column] = {
    val perCol: Seq[Column] = fields.flatMap { f =>
      val c = col(f.name); val nm = f.name
      // the named fields of a stats struct, each as `<column>__<field>`
      def fieldsOf(stats: Column, names: String*): Seq[Column] =
        names.map(x => stats.getField(x).as(s"${nm}__$x"))
      // NDV as a DataSketches HLL over value hashes (the sketch BYTES
      // ride in the profile so chunk merges union instead of taking
      // max); the isNotNull gate keeps nulls out of the sketch, and
      // xxhash64 makes any column type sketchable
      val ndv = hll_sketch_agg(when(c.isNotNull, xxhash64(c)), lit(opts.ndvLgK))
        .as(s"${nm}__ndvsk")
      val typed = f.dataType match {
        case t if isNumeric(t) =>
          fieldsOf(NumericStatsAggregate(c), NumericStatsAggregate.ResultType
            .fieldNames.toSeq: _*) ++
            Seq(percentile_approx(c.cast("double"),
              array(opts.quantileProbs.map(lit): _*), lit(10000))
              .as(s"${nm}__quant")) ++
            (if (opts.computeHistograms)
              Seq(HistogramAggregate(c, opts.histogramBins).as(s"${nm}__hist"))
            else Seq.empty)
        case StringType =>
          fieldsOf(StringStatsAggregate(c), StringStatsAggregate.ResultType
            .fieldNames.toSeq: _*) ++
            (if (opts.computeCategories)
              Seq(CategoryCountAggregate(c, categoryCeiling(opts)).as(s"${nm}__cat"))
            else Seq.empty) ++
            (if (opts.computeVocab)
              Seq(CodePointVocabAggregate(c, opts.vocabCharsPerValue, opts.vocabCap)
                .as(s"${nm}__vocab"))
            else Seq.empty) ++
            // the parsed extremes under every candidate format, read after
            // pass 1 for the formats the head sample discovers
            Seq(DatetimeCandidatesAggregate(c, timeZoneId, opts.ndvLgK).as(s"${nm}__dtc")) ++
            (if (opts.cmsHeavyHitters && opts.computeCategories)
              // a few-KB sketch per string column plus a bounded
              // Misra-Gries candidate map, fused into the same scan —
              // the over-cap escape hatch costs no extra pass, and the
              // candidates are unbiased by row order (a heavy hitter
              // first appearing in the last partition is still caught)
              Seq(
                count_min_sketch(c, lit(opts.cmsEps),
                  lit(opts.cmsConfidence), lit(42)).as(s"${nm}__cms"),
                MisraGriesAggregate(c, opts.hhCandidates).as(s"${nm}__mg"))
            else Seq.empty)
        case t if isDatetime(t) =>
          val stats = ValueStatsAggregate(c)
          fieldsOf(stats, "n", "nulls") ++ Seq(
            date_format(stats.getField("min"), "yyyy-MM-dd HH:mm:ss")
              .as(s"${nm}__mints"),
            date_format(stats.getField("max"), "yyyy-MM-dd HH:mm:ss")
              .as(s"${nm}__maxts"),
            distinctDays(c, opts).as(s"${nm}__ndays"))
        case _ => fieldsOf(ValueStatsAggregate(c), "n", "nulls")
      }
      val plugged = statPlugins.filter(_.appliesTo(f.dataType))
        .map(p => p.agg(c).cast("double").as(s"${nm}__plug__${p.name}"))
      ndv +: (typed ++ plugged)
    }

    val rows = RowStatsAggregate(fields.map(f => col(f.name)))
    val tableLevel = Seq(
      rows.getField("rows").as("__rowcount"),
      // DataSketches HLL instead of approx_count_distinct: same one-pass
      // cost, but the sketch BYTES ride along in the Profile so chunk
      // merges union sketches (exact under overlap) instead of clamping
      hll_sketch_agg(
        xxhash64(fields.map(f => col(f.name)): _*), lit(opts.ndvLgK))
        .as("__ndrows_sk"),
      rows.getField("rowsWithNull").as("__rowhasnull"),
      rows.getField("rowsAllNull").as("__rowisnull"))
    perCol ++ tableLevel
  }

  /** Distinct calendar days of a timestamp/date column: the DataSketches
    * HLL at the profile's lgK, the same estimator and rsd contract as
    * every other NDV here. Spark's `approx_count_distinct` at the default
    * rsd is HLL++ with a 3,277-field aggregation buffer, whose generated
    * projection dominated the profiler's fixed per-call cost. */
  private def distinctDays(x: Column, opts: ProfilerOptions): Column =
    hll_sketch_estimate(
      hll_sketch_agg(unix_date(to_date(x)), lit(opts.ndvLgK)))

  /** The distinct values a pass-1 category counter holds before it
    * overflows: five rsd of NDV-estimate error above `maxCategories`, so
    * a column the estimate qualifies almost never needs [[catMelt]]. */
  private def categoryCeiling(opts: ProfilerOptions): Int =
    math.ceil(opts.maxCategories * (1 + 5 * opts.ndvRsd)).toInt

  /** Grouped (split) profiling: ONE pass-set produces a Profile per
    * distinct value of `splitCol` — the fused form of "profile k chunks
    * of one frame" that [[graft.operators.ProfileQueries]]' merge/diff
    * composites and any partitioned-dataset profiling job want. Running
    * `profile(df.filter(key === k))` k times scans the data k times and
    * pays k× the per-job scheduler cost; here the aggregating passes
    * each run once under `groupBy(splitKey)` — identical aggregate
    * expressions, same map-side partial aggregation, k result rows
    * instead of one — so the scan count is independent of k. The parsed
    * datetime extremes ride pass 1 grouped; natural-order detection and
    * every group's head sample (labels, datetime discovery, exemplars)
    * ride ONE ungrouped forward pass keyed by (partition, key) — all
    * equal their per-slice profile() results (ProfileSplitSpec,
    * HeadSampleSpec).
    *
    * Returns one Profile per key VALUE (cast to long); a key absent
    * from the result had zero rows, and null keys are excluded.
    * `splitCol` itself is not profiled. */
  def profileSplit(df0: DataFrame, splitCol: String,
      opts: ProfilerOptions = ProfilerOptions()): Map[Long, Profile] =
    withAqeOff(df0.sparkSession) {
      val dfAll = applyNullValues(df0, opts)
      val fields = dfAll.schema.fields.toSeq.filterNot(_.name == splitCol)
      require(fields.size + 1 == dfAll.schema.size,
        s"split column `$splitCol` not found in ${dfAll.schema.fieldNames.toSeq}")
      val keyField = dfAll.schema(splitCol)
      require(isIntegral(keyField.dataType),
        s"split column `$splitCol` must be integral " +
          s"(got ${keyField.dataType.simpleString}): a lossy cast would " +
          "silently merge distinct keys")
      val key = col(splitCol).cast("long")
      // null keys are EXCLUDED everywhere (groupBy would keep a null group
      // that the per-group tail filters could never see — an internally
      // inconsistent Profile); callers split on derived non-null keys
      val df = dfAll.filter(key.isNotNull)
      // Key-domain guard (ProfilerOptions.maxGroups): a narrow exact
      // count of the distinct keys BEFORE any wide state ships, so a
      // caller who splits on a high-cardinality id column gets a fast,
      // exact error instead of a driver OOM from pass 1's one wide row
      // per key. Only one long reaches the driver.
      if (!opts.keyDomainBounded) {
        val nKeys = df.select(key).distinct().count()
        require(nKeys <= opts.maxGroups,
          s"profileSplit key `$splitCol` has more than " +
            s"ProfilerOptions.maxGroups=${opts.maxGroups} distinct " +
            "values: the split contract is k SMALL chunk profiles (the " +
            "driver holds one wide stats row per key, plus per-key " +
            "category/vocab/order state). Split on a coarser derived " +
            "key, or raise maxGroups if the driver is sized for it")
      }
      passSet(df, fields, Some(key), opts)
    }

  /** The profiler's one pass-set over `fields` of `df`: whole-frame when
    * `key` is None (the result holds one Profile, under key 0), else one
    * Profile per value of the long-typed `key`. Runs inside the caller's
    * [[withAqeOff]] scope. */
  private def passSet(df: DataFrame, fields: Seq[StructField],
      key: Option[Column], opts: ProfilerOptions): Map[Long, Profile] = {
    val t0 = System.currentTimeMillis()
    val statPlugins = activePlugins
    val numericCols = fields.filter(f => isNumeric(f.dataType)).map(_.name)
    val stringCols = fields.filter(_.dataType == StringType).map(_.name)
    val labelCols = if (opts.computeLabels) stringCols else Nil
    val timeZoneId = df.sparkSession.conf.get("spark.sql.session.timeZone")
    val grouping = key.map(_.as("__split")).toSeq
    def keyOf(r: Row): Long = if (key.isDefined) r.getLong(0) else 0L

    // natural-order detection covers the columns with an ordered type;
    // the scan segments carry it and the head sample, each (partition,
    // key) segment folded in scan order, so they run ungrouped: inside
    // pass 1 on the whole frame, as their own pass under a split key
    val orderCols =
      if (opts.computeOrder) fields.filter(f => OrderDetect.orderable(f.dataType))
        .map(_.name)
      else Nil
    val fieldCols = fields.map(f => col(f.name))
    def segments(n: Int): Column =
      OrderSegmentsAggregate(key.getOrElse(lit(0L)), orderCols.map(col), fieldCols, n)
    // the head-sample size: its readers' largest prefix, each group's
    // with 50 rows for format discovery when it has a datetime-like column
    def sampleSize(dtFormatCols: Seq[String]): Int = Seq(
      if (labelCols.nonEmpty) opts.labelerSampleSize else 0,
      if (dtFormatCols.nonEmpty) DtDiscoveryRows else 0,
      if (opts.computeExemplars) ExemplarRows else 0).max

    // ---- pass 1: the fused aggregation --------------------------------
    // One job: every pass-1 aggregate is a typed imperative aggregate, so
    // the whole pass plans as a single ObjectHashAggregate with map-side
    // partial aggregation. Correlation rides it as one co-moment
    // aggregate, so under a key each group gets its own mergeable matrix
    // state at zero extra scans. On the whole frame, which has no
    // grouping, the segments ride it too, sized for any string column's
    // format discovery.
    val (corrPairs, corrAggs) = corrPairsAndAggs(numericCols, opts)
    val wholeAggs =
      if (key.isDefined) Nil else Seq(segments(sampleSize(stringCols)).as("__segments"))
    val aggs = pass1Cols(fields, opts, statPlugins, timeZoneId) ++ corrAggs ++ wholeAggs
    val valsByKey: Map[Long, Map[String, Any]] =
      df.groupBy(grouping: _*).agg(aggs.head, aggs.tail: _*).collect()
        .map { r =>
          keyOf(r) -> r.schema.fieldNames.toSeq.zipWithIndex.drop(key.size)
            .map { case (n, i) => n -> r.get(i) }.toMap
        }.toMap
    require(key.isEmpty || valsByKey.size <= opts.maxGroups,
      s"profileSplit key ${key.get} realized ${valsByKey.size} distinct " +
        s"values > maxGroups=${opts.maxGroups} — the keyDomainBounded " +
        "assertion at this call site is wrong")
    val keys = valsByKey.keys.toSeq.sorted
    def gdOf(k: Long, name: String): Double = valsByKey(k)(name) match {
      case null => Double.NaN
      case d: Double => d
      case x: Number => x.doubleValue()
    }
    def ndvOf(k: Long, c: String): Long =
      Option(valsByKey(k)(s"${c}__ndvsk").asInstanceOf[Array[Byte]])
        .map(HllOps.estimate).getOrElse(0L)
    def rowsOf(k: Long): Long = valsByKey(k)("__rowcount").asInstanceOf[Long]
    // no rows in any group: every later pass would read nothing, so none
    // runs, and each result is what that pass yields on empty input
    val empty = keys.forall(rowsOf(_) == 0L)
    val dtFormatCols: Map[Long, Seq[String]] = keys.map(k =>
      k -> stringCols.filter(c => gdOf(k, s"${c}__dtr") > 0.0)).toMap
    val t1 = System.currentTimeMillis()

    // ---- pass 2: category maps ------------------------------------------
    // counted exactly in pass 1 up to the ceiling, and qualified PER
    // GROUP afterwards (a column can be categorical in one chunk and
    // over-cap in another) by the NDV estimate. A column the estimate
    // qualifies but whose counter overflowed is counted by the catMelt
    // fallback.
    def qualifies(k: Long, c: String): Boolean =
      opts.computeCategories && ndvOf(k, c) <= opts.maxCategories
    val counted: Map[Long, Map[String, Map[String, Long]]] = keys.map(k =>
      k -> stringCols.filter(qualifies(k, _)).flatMap(c =>
        Option(valsByKey(k)(s"${c}__cat").asInstanceOf[scala.collection.Map[String, Long]])
          .map(m => c -> m.toMap)).toMap).toMap
    val overflowed: Map[Long, Seq[String]] = keys.map(k => k ->
      stringCols.filter(c => qualifies(k, c) && !counted(k).contains(c))).toMap
    val melt = overflowed.values.exists(_.nonEmpty)
    val t2 = System.currentTimeMillis()
    val melted: Map[Long, Map[String, Map[String, Long]]] =
      if (!melt) Map.empty
      else catMelt(df, key, overflowed).collect()
        .groupBy(keyOf).map { case (k, rows) =>
          k -> rows.groupBy(_.getString(key.size)).map { case (c, rs) =>
            c -> rs.map(r =>
              r.getString(key.size + 1) -> r.getLong(key.size + 2)).toMap
          }
        }
    val catMs = if (melt) System.currentTimeMillis() - t2 else 0L

    // ---- the scan segments under a split key ---------------------------
    // one ungrouped pass whose segments are keyed by (partition, key),
    // holding every group's order summaries and head rows. A filter
    // preserves partition structure and row order, so each group's
    // segments are exactly what profile(df.filter(key === k)) sees. Not
    // grouped by the key: past 128 keys a grouped ObjectHashAggregate
    // falls back to sorting, which would feed a partition's rows to a
    // group's buffer out of order. It runs when some group has rows and
    // there is an order to detect or a group needs a head sample.
    val splitN = keys.map(k => sampleSize(dtFormatCols(k))).maxOption.getOrElse(0)
    val splitPass = key.isDefined && !empty && (orderCols.nonEmpty || splitN > 0)
    val t3 = System.currentTimeMillis()
    val segs: Map[Long, OrderDetect.Segments] =
      if (key.isEmpty) OrderDetect.decode(valsByKey(0L)("__segments"))
      else if (splitPass) OrderDetect.decode(df.agg(segments(splitN)).head().get(0))
      else Map.empty
    val orderMs = if (splitPass) System.currentTimeMillis() - t3 else 0L

    // windows shared by all groups are DIVIDED across them, so merging
    // the k split profiles sums back to the actual wall clock instead of
    // k× it; the per-group head rules are attributed whole. Categories,
    // vocab, the parsed datetime extremes and (on the whole frame) order
    // ride pass 1, so their own keys hold only the catMelt fallback and
    // the split segment pass.
    val shared = keys.size.max(1)
    keys.map { k =>
      // pass 4: the group's head sample and the rules that read it
      val n = if (empty) 0 else sampleSize(dtFormatCols(k))
      val sample =
        if (n == 0) Array.empty[Row]
        else headFrom(key.fold(df)(kc => df.filter(kc === k)).select(fieldCols: _*),
          n, segs(k).rows, rowsOf(k))
      val (head, labelMs) = headPasses(sample, fields, labelCols, dtFormatCols(k), opts)
      val histMaps =
        if (opts.computeHistograms) histFromPass1(numericCols, valsByKey(k))
        else Map.empty[String, Histogram]
      // a qualifying column with no non-null value has no category map
      val catMaps = (counted(k) ++ melted.getOrElse(k, Map.empty))
        .filter(_._2.nonEmpty)
      val vocabSets =
        if (!opts.computeVocab) Map.empty[String, Set[String]]
        else stringCols.map(c => c ->
          valsByKey(k)(s"${c}__vocab").asInstanceOf[scala.collection.Seq[String]].toSet)
          .toMap
      val orders: Map[String, String] = segs.get(k) match {
        case Some(s) => orderCols.zip(s.columns.map(_.order)).toMap
        case None => orderCols.map(_ -> OrderDetect.EmptyVerdict).toMap
      }
      // pass 7: the extremes parsed under each column's discovered formats
      val strDtStats = head.dtFormats.flatMap { case (c, fmts) =>
        DatetimeCandidatesAggregate.resolve(
          valsByKey(k)(s"${c}__dtc").asInstanceOf[scala.collection.Seq[Row]],
          fmts.map(f => DatetimeFormats.formats.indexWhere(_.java == f)),
          timeZoneId, opts.ndvLgK)
          .map { case (mn, mx, days) => c -> DatetimeStats(mn, mx, days) }
      }
      k -> assembleProfile(fields, opts, statPlugins, valsByKey(k), corrPairs,
        catMaps, histMaps, head.labelVotes, vocabSets, orders,
        head.dtFormats, strDtStats, head.exemplars,
        Map("aggregate" -> (t1 - t0) / shared,
          "categories" -> catMs / shared, "histograms" -> 0L,
          "labeler" -> labelMs, "vocab" -> 0L,
          "order" -> orderMs / shared, "datetime_formats" -> 0L))
    }.toMap
  }

  /** Pass 2's category melt, the fallback for the columns of each group
    * in `catColsByKey` (those whose NDV estimate qualifies but whose
    * pass-1 counter overflowed), with the per-group selection pushed
    * INTO the query when the groups' column sets differ: the melt
    * covers the union of columns named for ANY group, and the
    * codegen'd InSet filter on the packed (split, column) pair drops
    * every other pair BEFORE the count aggregation — so a column that
    * is categorical in one small group but high-cardinality in a big
    * one never counts, shuffles, or collects that big group's distinct
    * values. With no key (or
    * identical sets) every melted pair qualifies and no filter is
    * planned. Package-private so ProfileSplitSpec can count the
    * pre-collect rows directly. */
  private[graft] def catMelt(df: DataFrame, key: Option[Column],
      catColsByKey: Map[Long, Seq[String]]): DataFrame = {
    val allCatCols = catColsByKey.values.flatten.toSeq.distinct
    val keyName = key.map(_ => "__split").toSeq
    val groupCols = keyName ++ Seq("k", "v")
    val nonNull = col("v").isNotNull
    val qualifies =
      if (catColsByKey.values.map(_.toSet).toSet.size <= 1) nonNull
      else nonNull &&
        concat(col("__split").cast("string"), lit(" "), col("k")).isin(
          catColsByKey.toSeq.flatMap { case (k, cs) => cs.map(c => s"$k $c") }: _*)
    val melt = explode(array(allCatCols.map(c =>
      struct(lit(c).as("k"), col(c).as("v"))): _*)).as("kv")
    df.select(key.map(_.as("__split")).toSeq :+ melt: _*)
      .select(keyName.map(col) ++ Seq(col("kv.k"), col("kv.v")): _*)
      .filter(qualifies)
      .groupBy(groupCols.head, groupCols.tail: _*)
      .agg(count(lit(1)).as("c"))
  }

  /** Histograms decoded from pass-1 [[HistogramAggregate]] results (one per
    * group under a split key). */
  private def histFromPass1(numericCols: Seq[String],
      vals: Map[String, Any]): Map[String, Histogram] =
    numericCols.flatMap { c =>
      vals(s"${c}__hist").asInstanceOf[Row] match {
        case null => None
        case r =>
          val counts = r.getAs[scala.collection.Seq[Long]]("counts")
          if (counts.isEmpty) None
          else Some(c -> Histogram(
            r.getAs[Double]("lo"), r.getAs[Double]("hi"), counts.toArray))
      }
    }.toMap

  /** Mergeable correlation state: per pair the pairwise-complete count,
    * means, second moments and co-moment, all from ONE
    * [[CoMomentsAggregate]] over the numeric columns (still one scan) —
    * so Profile.merge pools instead of dropping the matrix
    * (profile_builder.py:2380-2551). Under a split key the same
    * expression yields each group's pairwise state, exactly what
    * `profile(df.filter(key === k))` computes. */
  private def corrPairsAndAggs(numericCols: Seq[String],
      opts: ProfilerOptions): (Seq[(String, String)], Seq[Column]) =
    if (!opts.computeCorrelation || numericCols.size < 2) (Seq.empty, Seq.empty)
    else (numericCols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq,
      Seq(CoMomentsAggregate(numericCols.map(col)).as("__corr")))

  /** Build the [[Profile]] object of one group from its pass results
    * (its `vals` row and pass maps). */
  private def assembleProfile(
      fields: Seq[StructField], opts: ProfilerOptions,
      statPlugins: Seq[graft.plugins.ColumnStatPlugin],
      vals: Map[String, Any], corrPairs: Seq[(String, String)],
      catMaps: Map[String, Map[String, Long]],
      histMaps: Map[String, Histogram],
      labelVotes: Map[String, Map[String, Long]],
      vocabSets: Map[String, Set[String]],
      orders: Map[String, String],
      dtFormats: Map[String, Seq[String]],
      strDtStats: Map[String, DatetimeStats],
      exemplars: Map[String, Seq[String]],
      timings: Map[String, Long]): Profile = {
    def g[T](name: String): T = vals(name).asInstanceOf[T]
    def gd(name: String): Double = vals(name) match {
      case null => Double.NaN
      case d: Double => d
      case x: Number => x.doubleValue()
    }
    val ndvCache = scala.collection.mutable.Map.empty[String, Long]
    def ndvSketchOf(c: String): Option[Array[Byte]] =
      Option(vals(s"${c}__ndvsk").asInstanceOf[Array[Byte]])
    def ndvOf(c: String): Long = ndvCache.getOrElseUpdate(c,
      ndvSketchOf(c).map(HllOps.estimate).getOrElse(0L))
    val tsCols = fields.filter(f => isDatetime(f.dataType)).map(_.name)
    val cols = fields.map { f =>
      val nm = f.name
      val n = g[Long](s"${nm}__n"); val nulls = g[Long](s"${nm}__nulls")
      val ndv = ndvOf(nm)
      val numeric = if (isNumeric(f.dataType)) {
        val varp = gd(s"${nm}__varp"); val skew = gd(s"${nm}__skew")
        val kurt = gd(s"${nm}__kurt")
        val m2 = varp * n
        val m3 = if (skew.isNaN) 0.0 else skew * math.pow(varp, 1.5) * n
        val m4 = if (kurt.isNaN) 0.0 else (kurt + 3.0) * varp * varp * n
        val qs = vals(s"${nm}__quant").asInstanceOf[scala.collection.Seq[Any]] match {
          case null => Map.empty[Double, Double]
          case seq => opts.quantileProbs.zip(seq.map {
            case null => Double.NaN
            case x: Number => x.doubleValue()
          }).toMap
        }
        Some(NumericStats(n, gd(s"${nm}__mean"), m2, m3, m4,
          gd(s"${nm}__min"), gd(s"${nm}__max"), gd(s"${nm}__sum"),
          g[Long](s"${nm}__zeros"), g[Long](s"${nm}__negs"), ndv, qs))
      } else None
      val text = if (f.dataType == StringType) {
        Some(TextStats(gd(s"${nm}__minlen"), gd(s"${nm}__maxlen"),
          gd(s"${nm}__meanlen"), gd(s"${nm}__varlen") * n, n,
          vocabSets.getOrElse(nm, Set.empty)))
      } else None
      // all-null / empty timestamp columns have no min — no stats block;
      // string columns with discovered formats carry their parsed extremes
      val dt = if (tsCols.contains(nm) && g[String](s"${nm}__mints") != null) {
        Some(DatetimeStats(g[String](s"${nm}__mints"), g[String](s"${nm}__maxts"),
          g[Long](s"${nm}__ndays")))
      } else strDtStats.get(nm)
      // Over-cap string columns keep a capped=true marker (the reference's
      // stop-condition flags cap_reached rather than dropping the stat,
      // categorical_column_profile.py:478-521) so Diff can distinguish
      // "capped" from "not categorical". NOTE: the cap decision keys off
      // the HLL NDV sketch, so nCat for a capped column is the APPROX
      // cardinality (one-pass tradeoff vs the reference's exact stop
      // condition) — Diff consumers must not treat a capped nCat as exact.
      // Capped columns keep CMS heavy hitters: candidate keys come from
      // the pass-1 Misra-Gries summary (guaranteed to hold any value
      // with frequency > n/capacity, whatever the partition layout),
      // counts from the pass-1 CMS sketch — no extra job, no head bias.
      val cat = catMaps.get(nm).map(m =>
        CategoricalStats(m.size.toLong, m, capped = false))
        .orElse(
          if (f.dataType == StringType && opts.computeCategories &&
              ndv > opts.maxCategories) {
            val hh: Map[String, Long] =
              if (!opts.cmsHeavyHitters) Map.empty
              else (vals(s"${nm}__cms").asInstanceOf[Array[Byte]],
                  vals(s"${nm}__mg")) match {
                case (bytes, mg: scala.collection.Map[_, _])
                    if bytes != null =>
                  val sketch = org.apache.spark.util.sketch.CountMinSketch
                    .readFrom(new java.io.ByteArrayInputStream(bytes))
                  mg.keysIterator.map(_.toString).toSeq
                    .map(v => v -> sketch.estimateCount(v))
                    .sortBy { case (v, c) => (-c, v) }
                    .take(opts.heavyHitterK).toMap
                case _ => Map.empty
              }
            Some(CategoricalStats(ndv, Map.empty, capped = true, hh,
              Option(vals(s"${nm}__cms").asInstanceOf[Array[Byte]])))
          } else None)
      val inferred = f.dataType match {
        case t if isNumeric(t) =>
          if (isIntegral(t)) "int" else "float"
        case t if isDatetime(t) => "datetime"
        case StringType =>
          val intr = gd(s"${nm}__intr"); val fr = gd(s"${nm}__floatr")
          val dtr = gd(s"${nm}__dtr")
          if (dtr == 1.0 && n > 0) "datetime"
          else if (intr == 1.0 && n > 0) "int"
          else if (fr == 1.0 && n > 0) "float"
          else if (gd(s"${nm}__maxlen") <= 255.0) "string"
          else "text"
        case other => other.simpleString
      }
      val plugStats = statPlugins.filter(_.appliesTo(f.dataType))
        .flatMap(p => vals.get(s"${nm}__plug__${p.name}") match {
          case Some(null) | None => None
          case Some(v: Number) => Some(p.name -> v.doubleValue())
          case _ => None
        }).toMap
      ColumnProfile(nm, f.dataType.simpleString, inferred, n, nulls, ndv,
        numeric, histMaps.get(nm), cat, text, dt,
        labelVotes.getOrElse(nm, Map.empty),
        orders.get(nm),
        dtFormats.getOrElse(nm, Seq.empty),
        exemplars.getOrElse(nm, Seq.empty),
        ndvSketchOf(nm),
        plugStats)
    }

    val corrRows =
      if (corrPairs.isEmpty) Seq.empty
      else vals("__corr").asInstanceOf[scala.collection.Seq[Row]]
    val corrMap = corrPairs.zip(corrRows).map { case (pair, r) =>
      def d(i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      val pn = r.getLong(0)
      pair -> PairMoments(pn, d(1), d(2), d(3) * pn, d(4) * pn, d(5) * pn)
    }.toMap

    val rowsSk = Option(vals("__ndrows_sk").asInstanceOf[Array[Byte]])
    val ndRows = rowsSk.map(b => math.round(
      org.apache.datasketches.hll.HllSketch.heapify(b).getEstimate))
      .getOrElse(0L)
    Profile(
      g[Long]("__rowcount"), ndRows,
      g[Long]("__rowhasnull"), g[Long]("__rowisnull"),
      cols, corrMap, timings, rowsSk)
  }

  /** What the head sample yields: label votes, discovered datetime
    * formats (every probed column, possibly with no format) and
    * exemplars, each keyed by column. */
  private final case class HeadPasses(
      labelVotes: Map[String, Map[String, Long]],
      dtFormats: Map[String, Seq[String]],
      exemplars: Map[String, Seq[String]])

  /** Rows datetime-format discovery reads: the reference's pre-test
    * (datetime_column_profile.py:392-410) is the discovery set. */
  private val DtDiscoveryRows = 50
  /** Rows the exemplars are drawn from (profile_builder.py:665-668). */
  private val ExemplarRows = 100

  /** The rows `df.head(n)` returns, from the head rows `got` that an
    * [[OrderSegmentsAggregate]] of `n` rows kept for a frame of `total`
    * rows: `got` when it holds them, else `df.head(n)` — the frame's
    * first `n` rows lie past the partitions that keep rows. */
  private[graft] def headFrom(df: DataFrame, n: Int, got: Seq[Row], total: Long): Array[Row] =
    if (OrderSegmentsAggregate.covers(got.size, n, total)) got.take(n).toArray else df.head(n)

  /** Pass 4: ONE head sample, `rows`, read by label votes (its first
    * labelerSampleSize rows, for `labelCols`), datetime-format discovery
    * (its first 50 rows, for `dtFormatCols`) and exemplars (its first
    * 100 rows, every field). `rows` are the rows `df.head(n)` returns for
    * the largest of those prefixes, from the scan segments' head rows
    * ([[headFrom]]). The label and format rules ([[headRules]]) run as
    * plain calls on the driver. No rows → no result. Returns the
    * passes' results and the milliseconds the rules took. */
  private def headPasses(rows: Array[Row], fields: Seq[StructField],
      labelCols: Seq[String], dtFormatCols: Seq[String],
      opts: ProfilerOptions): (HeadPasses, Long) = {
    if (rows.isEmpty) return (HeadPasses(Map.empty, Map.empty, Map.empty), 0L)
    val labelN = if (labelCols.nonEmpty) opts.labelerSampleSize else 0
    val dtN = if (dtFormatCols.nonEmpty) DtDiscoveryRows else 0
    val exN = if (opts.computeExemplars) ExemplarRows else 0
    val t0 = System.currentTimeMillis()

    val exemplars =
      if (exN == 0) Map.empty[String, Seq[String]]
      else fields.zipWithIndex.map { case (f, idx) =>
        f.name -> rows.iterator.take(exN)
          .map(_.get(idx)).filter(_ != null).map {
            // hex, not the array's identity hash, so exemplars are stable
            case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
            case v => v.toString
          }.toSeq.distinct.take(5)
      }.toMap

    val (labelVotes, dtFormats) = headRules(rows, fields, labelCols, labelN, dtFormatCols, dtN)
    (HeadPasses(labelVotes, dtFormats, exemplars), System.currentTimeMillis() - t0)
  }

  private lazy val daySuffix = Pattern.compile(DatetimeFormats.daySuffixPattern)
  private lazy val formatRegexes = DatetimeFormats.formats.map(f => Pattern.compile(f.regex))

  /** The head sample's label and format rules over `rows` (with
    * `fields`), nulls dropped: per column of `labelCols`, the label
    * votes of its first `labelN` cells — [[graft.labelers.FastMatch.label]],
    * what [[graft.labelers.RegexLabeler.labelOf]] evaluates; per column
    * of `dtFormatCols`, the formats whose regex finds a match in one of
    * its first `dtN` cells with the day suffixes stripped — the
    * `regexp_replace` and `rlike` of [[DatetimeFormats.matches]] — in
    * format order. A column with no vote has no entry. */
  private[graft] def headRules(rows: Array[Row], fields: Seq[StructField],
      labelCols: Seq[String], labelN: Int, dtFormatCols: Seq[String], dtN: Int)
      : (Map[String, Map[String, Long]], Map[String, Seq[String]]) = {
    val fieldIdx = fields.map(_.name).zipWithIndex.toMap
    def cells(c: String, n: Int): Seq[String] =
      rows.iterator.take(n).map(_.getString(fieldIdx(c))).filter(_ != null).toSeq
    val labelVotes = labelCols.map(c => c ->
      cells(c, labelN).groupMapReduce(graft.labelers.FastMatch.label)(_ => 1L)(_ + _))
      .filter(_._2.nonEmpty).toMap
    val dtFormats = dtFormatCols.map { c =>
      val vs = cells(c, dtN).map(daySuffix.matcher(_).replaceAll("$1"))
      c -> DatetimeFormats.formats.indices
        .filter(i => vs.exists(formatRegexes(i).matcher(_).find(0)))
        .map(DatetimeFormats.formats(_).java)
    }.toMap
    (labelVotes, dtFormats)
  }

  private def isNumeric(t: DataType): Boolean = t match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: DoubleType | _: FloatType | _: DecimalType => true
    case _ => false
  }
  private def isIntegral(t: DataType): Boolean = t match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType => true
    case _ => false
  }
  private def isDatetime(t: DataType): Boolean = t match {
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }
}
