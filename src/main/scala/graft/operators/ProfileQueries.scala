package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSessions, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.profiler.{Codec, Profiler, ProfilerOptions}

/** Oracle coverage for the profiler's OWN algebra — the subsystems the
  * reference exercises first (profile → save/load → update/merge) that
  * were previously unit-tested only:
  *
  * `profile_merge` profiles lineitem in 4 deterministic chunks
  * (l_orderkey % 4 — not row-order dependent), reduces them with
  * `Profile.merge`, routes the result through the JSON codec round-trip,
  * and emits the EXACTLY-mergeable stats as (key, value) rows. The
  * DuckDB oracle states the same numbers straight from the table, so a
  * drift anywhere in profile → encode → decode → merge breaks the hash.
  * Only exact-under-merge stats are emitted (counts, min/max, integral
  * sums, category counts, vocab set union) — approximations (HLL NDV,
  * histogram re-bucketing) are property-tested instead.
  */
object ProfileQueries extends QueryModule {

  private val NChunks = 4

  /** Deterministic ~3/8 slice: the gate tests merge EXACTNESS, which is
    * scale-independent — profiling the full table 4× would only inflate
    * bench time, not strengthen the check. */
  private val UniverseMod = 8
  private val UniverseKeep = 3

  private def profileMerge(s: SparkSession, dir: String): DataFrame = {
    // project to the gate's columns (plus the chunking key): the check is
    // merge EXACTNESS of the emitted stats, and profiling lineitem's nine
    // other columns 4× adds bench time without widening the gate — column
    // breadth under merge is covered by the 120-column ProfilerSpec test
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .filter(col("l_orderkey") % UniverseMod < UniverseKeep)
    val opts = ProfilerOptions(
      computeCorrelation = false, computeLabels = false,
      computeOrder = false, computeHistograms = false,
      // vocab must be the exact set union for the oracle: disable the
      // per-value char cap (the SQL side splits full values)
      vocabCharsPerValue = Int.MaxValue,
      // emitted keys never include exemplars → skip the per-chunk
      // head-sample probes (r19: one filter+limit job per chunk);
      // key is l_orderkey % 4 → ≤4 groups by construction (r20: skips
      // the defensive narrow distinct pre-pass)
      computeExemplars = false, keyDomainBounded = true)
    // the 4 chunk profiles come from ONE grouped pass-set
    // (Profiler.profileSplit, r13): same per-chunk Profiles as 4
    // filtered profile() calls, but pass 1 scans once grouped by
    // the chunk key instead of 4× — the fused form of the old
    // concurrent-futures submission (job count now independent of the
    // chunk count). Each chunk still round-trips through the JSON codec
    // BEFORE the merge — the save/load path (profile_builder.py:
    // 1112-1234) must preserve every piece of mergeable state, not just
    // the displayed stats, so deserialized profiles are merged under the
    // same oracle.
    val split = Profiler.profileSplit(
      li.withColumn("__chunk", col("l_orderkey") % NChunks)
        .drop("l_orderkey"), "__chunk", opts)
    // a key absent from the split had zero rows: profile the empty slice
    // like the old per-slice path did, so merge semantics (and the
    // degenerate empty-table case) are unchanged
    def chunkOf(k: Int) = split.getOrElse(k.toLong,
      Profiler.profile(li.filter(lit(false)).drop("l_orderkey"), opts))
    val merged = (0 until NChunks)
      .map(k => Codec.decode(Codec.encode(chunkOf(k))))
      .reduce(_.merge(_))
    // ...and the merged result round-trips too
    val p = Codec.decode(Codec.encode(merged))
    val qty = p.column("l_quantity").get
    val qn = qty.numeric.get
    val rf = p.column("l_returnflag").get
    val kv: Seq[(String, Double)] = Seq(
      "row_count" -> p.rowCount.toDouble,
      "quantity_n" -> qn.n.toDouble,
      "quantity_nulls" -> qty.nulls.toDouble,
      "quantity_min" -> qn.min,
      "quantity_max" -> qn.max,
      "quantity_sum" -> qn.sum,
      "quantity_zeros" -> qn.zeros.toDouble,
      "quantity_negatives" -> qn.negatives.toDouble,
      "returnflag_vocab" -> rf.text.get.vocab.size.toDouble) ++
      rf.categorical.get.counts.toSeq.sortBy(_._1)
        .map { case (v, c) => s"returnflag_cat_$v" -> c.toDouble }
    import s.implicits._
    kv.toDF("key", "value").orderBy("key")
  }

  private val profileMergeSql =
    s"""WITH li AS (SELECT * FROM lineitem
       |            WHERE l_orderkey % $UniverseMod < $UniverseKeep)
       |SELECT key, CAST(value AS DOUBLE) AS value FROM (
       |  SELECT 'row_count' AS key, count(*) AS value FROM li
       |  UNION ALL SELECT 'quantity_n', count(l_quantity) FROM li
       |  UNION ALL SELECT 'quantity_nulls',
       |    count(*) - count(l_quantity) FROM li
       |  UNION ALL SELECT 'quantity_min', min(l_quantity) FROM li
       |  UNION ALL SELECT 'quantity_max', max(l_quantity) FROM li
       |  UNION ALL SELECT 'quantity_sum', sum(l_quantity) FROM li
       |  UNION ALL SELECT 'quantity_zeros',
       |    count(*) FILTER (l_quantity = 0) FROM li
       |  UNION ALL SELECT 'quantity_negatives',
       |    count(*) FILTER (l_quantity < 0) FROM li
       |  UNION ALL SELECT 'returnflag_vocab',
       |    count(DISTINCT ch) FROM (
       |      SELECT unnest(string_split_regex(l_returnflag, '')) AS ch
       |      FROM li) c WHERE ch != ''
       |  UNION ALL SELECT concat('returnflag_cat_', l_returnflag), count(*)
       |    FROM li GROUP BY l_returnflag
       |) t ORDER BY key""".stripMargin

  // --------------------------------------------------------- profile_diff
  /** Oracle gate for the drift subsystem (`Diff.diff`, the reference's
    * `p1.diff(p2)`, profile_builder.py:809-842): profile the even- and
    * odd-orderkey halves of lineitem, diff them, and emit the
    * SQL-restatable fields — count deltas (exact), mean/std deltas
    * (rounded), Welch's t statistic (numerical_column_stats.py:604-665)
    * and the chi² homogeneity statistic + dof (categorical_column_profile
    * .py:245-342). The DuckDB side recomputes every number from the raw
    * halves with the same formulas, so a drift anywhere in
    * profile → diff (moment merge, Welch algebra, chi² expected counts)
    * breaks the hash. p-values need distribution CDFs (not SQL) — they
    * stay unit-tested. */
  private def profileDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    // Diff reads counts + numeric moments + categorical maps only;
    // vocab and exemplars never reach the emitted keys → skip their
    // passes (r19: −1 grouped vocab job, −1 head probe per half).
    // Key is l_orderkey % 2 → ≤2 groups by construction (r20: skips
    // the defensive narrow distinct pre-pass).
    val opts = ProfilerOptions(
      computeCorrelation = false, computeLabels = false,
      computeOrder = false, computeHistograms = false,
      computeVocab = false, computeExemplars = false,
      keyDomainBounded = true)
    // both halves come from ONE grouped pass-set (Profiler.profileSplit,
    // r13): identical per-half Profiles, half the scans and jobs of the
    // old concurrent two-profile submission
    val split = Profiler.profileSplit(
      base.withColumn("__half", col("l_orderkey") % 2)
        .drop("l_orderkey"), "__half", opts)
    // an all-even / all-odd corpus leaves one half empty: profile the
    // empty slice like the old per-slice path did (Diff handles it)
    def halfOf(k: Long) = split.getOrElse(k,
      Profiler.profile(base.filter(lit(false)).drop("l_orderkey"), opts))
    val (h0, h1) = (halfOf(0L), halfOf(1L))
    val d = graft.profiler.Diff.diff(h0, h1)
    val qd = d.columns.find(_.name == "l_quantity").get
    val rd = d.columns.find(_.name == "l_returnflag").get
    val qn = qd.numeric.get
    val rc = rd.categorical.get
    def r(v: Double, dp: Int): Double = graft.functions.roundHalfUp(v, dp)
    val kv: Seq[(String, Double)] = Seq(
      "row_count_delta" -> d.rowCountDelta.toDouble,
      "quantity_count_delta" -> qd.countDelta.toDouble,
      "quantity_mean_delta" -> r(qn.meanDelta, 6),
      "quantity_std_delta" -> r(qn.stdDelta, 6),
      "quantity_t_stat" -> r(qn.tStatistic, 4),
      "returnflag_chi2" -> r(rc.chi2Statistic, 4),
      "returnflag_dof" -> rc.dof.toDouble)
    import s.implicits._
    kv.toDF("key", "value").orderBy("key")
  }

  private val profileDiffSql =
    """WITH a AS (SELECT l_quantity, l_returnflag FROM lineitem
      |           WHERE l_orderkey % 2 = 0),
      |b AS (SELECT l_quantity, l_returnflag FROM lineitem
      |      WHERE l_orderkey % 2 = 1),
      |sa AS (SELECT count(*) AS rc, count(l_quantity) AS n,
      |              avg(l_quantity) AS mean, var_samp(l_quantity) AS v,
      |              stddev_samp(l_quantity) AS sd FROM a),
      |sb AS (SELECT count(*) AS rc, count(l_quantity) AS n,
      |              avg(l_quantity) AS mean, var_samp(l_quantity) AS v,
      |              stddev_samp(l_quantity) AS sd FROM b),
      |cc AS (SELECT coalesce(ca.v, cb.v) AS cat,
      |              CAST(coalesce(ca.n, 0) AS DOUBLE) AS o1,
      |              CAST(coalesce(cb.n, 0) AS DOUBLE) AS o2
      |       FROM (SELECT l_returnflag AS v, count(*) AS n FROM a GROUP BY 1) ca
      |       FULL JOIN (SELECT l_returnflag AS v, count(*) AS n FROM b
      |                  GROUP BY 1) cb ON ca.v = cb.v),
      |tot AS (SELECT sum(o1) AS n1, sum(o2) AS n2, sum(o1) + sum(o2) AS t,
      |               count(*) AS ncat FROM cc),
      |chi AS (SELECT sum(
      |          CASE WHEN n1 * (o1 + o2) / t > 0
      |            THEN power(o1 - n1 * (o1 + o2) / t, 2)
      |                   / (n1 * (o1 + o2) / t) ELSE 0 END +
      |          CASE WHEN n2 * (o1 + o2) / t > 0
      |            THEN power(o2 - n2 * (o1 + o2) / t, 2)
      |                   / (n2 * (o1 + o2) / t) ELSE 0 END) AS stat
      |        FROM cc, tot)
      |SELECT key, CAST(value AS DOUBLE) AS value FROM (
      |  SELECT 'row_count_delta' AS key, sb.rc - sa.rc AS value FROM sa, sb
      |  UNION ALL SELECT 'quantity_count_delta', sb.n - sa.n FROM sa, sb
      |  UNION ALL SELECT 'quantity_mean_delta',
      |    round(sb.mean - sa.mean, 6) FROM sa, sb
      |  UNION ALL SELECT 'quantity_std_delta',
      |    round(sb.sd - sa.sd, 6) FROM sa, sb
      |  UNION ALL SELECT 'quantity_t_stat',
      |    round((sa.mean - sb.mean)
      |          / sqrt(sa.v / sa.n + sb.v / sb.n), 4) FROM sa, sb
      |  UNION ALL SELECT 'returnflag_chi2', round(stat, 4) FROM chi
      |  UNION ALL SELECT 'returnflag_dof', ncat - 1 FROM tot
      |) t ORDER BY key""".stripMargin

  // --------------------------------------------------------- profile_gate
  /** Cross-run profile REGRESSION GATE ([[graft.profiler.Gate]]): the
    * alerting layer on top of the diff subsystem — profile two temporal
    * snapshots of lineitem (before/after a ship-date cutoff, the
    * canonical scheduled-job scenario), fence every (column, metric)
    * drift statistic, and emit pass/warn/fail verdicts. The DuckDB
    * oracle recomputes every statistic from the raw halves with the
    * same formulas AND applies the same fences, so a drift anywhere in
    * profile → gate (Welch algebra, chi² expected counts, null-ratio
    * accounting, the rounding-before-compare contract, the fence
    * constants themselves) breaks the hash.
    *
    * Scale shape: profileSplit's ONE grouped pass-set over the
    * projected columns is the only corpus-sized work; the gate is
    * driver math on two bounded profiles (columns × metrics rows). */
  private val GateCutoff = "1998-06-01"

  // ---- shared gate-oracle fragments (profile_gate + stream_gate) ----
  // ONE definition of the Welch statistic (with the TScaleEps
  // near-constant floor), the category cap, and the fence/verdict
  // dispatch — the two oracles stay formula-identical by construction,
  // not by parallel edits (r17 self-review).
  /** The year domain stream_gate's oracle is generated over. The
    * synthetic shipdates span 1995-01-01 + ≤2500 days → 1995-2001;
    * margin on both sides. streamGate REQUIREs the realized years stay
    * inside this (fail loudly on generator drift, never a silent
    * oracle-row mismatch). */
  private val StreamGateYearDomain: Range = 1993 to 2004

  private val GateEps = graft.profiler.Gate.TScaleEps
  private val GateCap = ProfilerOptions().maxCategories

  /** |t| with Gate's preconditions mirrored: the pooled SE is FLOORED
    * at TScaleEps × mean scale (so a constant-shift drift keeps a huge
    * deterministic t = gap / floor and fails — r18), NULL only when
    * the mean gap is ALSO below the floor (fully dusty) or when n<2
    * (var_samp's NULL, propagated explicitly since greatest() would
    * otherwise skip it). `x`/`y` name (n, mean, v, sd) CTEs for the
    * baseline and current halves. The dust threshold is spelled
    * (eps·scale)·(eps·scale) — the SAME association as Gate.check's
    * `seFloor * seFloor`, not `eps² · power(scale, 2)`, so a
    * boundary-adjacent se2 cannot classify differently in the last
    * ulp on the two engines (r18 advice). */
  private def gateWelchSql(x: String, y: String): String =
    s"""round(CASE
       |  WHEN $x.v / $x.n + $y.v / $y.n IS NULL THEN NULL
       |  WHEN $x.v / $x.n + $y.v / $y.n <
       |        ($GateEps * greatest(abs($x.mean), abs($y.mean), 1.0))
       |        * ($GateEps * greatest(abs($x.mean), abs($y.mean), 1.0))
       |    AND abs($x.mean - $y.mean) <
       |        $GateEps * greatest(abs($x.mean), abs($y.mean), 1.0)
       |  THEN NULL
       |  ELSE abs($x.mean - $y.mean)
       |    / greatest(sqrt($x.v / $x.n + $y.v / $y.n),
       |               $GateEps * greatest(abs($x.mean), abs($y.mean), 1.0))
       |  END, 4)""".stripMargin

  /** std-ratio delta with Gate's zero-spread precondition mirrored: a
    * NULL (n<2) or zero baseline/current stddev makes the ratio
    * undefined — NULL → 'unknown', matching Gate.check's NaN (DuckDB
    * would otherwise emit Inf on x/0 and hash-diverge; the r17
    * what's-wrong #1). Shared by profile_gate and stream_gate. */
  private def gateStdRatioSql(x: String, y: String): String =
    s"""round(CASE WHEN $x.sd IS NULL OR $y.sd IS NULL
       |           OR $x.sd = 0 THEN NULL
       |      ELSE abs($y.sd / $x.sd - 1) END, 6)""".stripMargin

  /** The verdict column: unknown guard (NULL / NaN / Inf — a mirrored
    * precondition, an n<2 var_samp NULL, a 0/0, or an x/0 like a
    * zero-stddev baseline must report 'unknown', never fall through to
    * 'pass' nor order as greatest into 'fail') + the per-metric fence
    * CASE generated from the SAME Fences instance the Spark side gates
    * with, so thresholds cannot drift apart. */
  private val gateVerdictSql: String = {
    val f = graft.profiler.Gate.Fences()
    def fence(warn: Double, fail: Double) =
      s"CASE WHEN statistic >= $fail THEN 'fail' " +
        s"WHEN statistic >= $warn THEN 'warn' ELSE 'pass' END"
    s"""CASE WHEN statistic IS NULL OR isnan(statistic)
       |         OR isinf(statistic) THEN 'unknown'
       |  ELSE CASE metric
       |    WHEN 'row_count_ratio_delta'
       |      THEN ${fence(f.warnRowRatio, f.failRowRatio)}
       |    WHEN 'null_ratio_delta'
       |      THEN ${fence(f.warnNullDelta, f.failNullDelta)}
       |    WHEN 'mean_t_stat' THEN ${fence(f.warnTStat, f.failTStat)}
       |    WHEN 'std_ratio_delta'
       |      THEN ${fence(f.warnStdRatio, f.failStdRatio)}
       |    WHEN 'chi2_per_dof'
       |      THEN ${fence(f.warnChi2PerDof, f.failChi2PerDof)}
       |    WHEN 'unseen_categories'
       |      THEN ${fence(f.warnUnseenCats, f.failUnseenCats)}
       |  END END AS verdict""".stripMargin
  }

  private def profileGate(s: SparkSession, dir: String): DataFrame = {
    // l_zero / l_shift are degenerate-case FIXTURE columns that pin the
    // gate's dust preconditions at the ORACLE level on every SF:
    // l_zero is constant 0.0 on both halves (gap and SE both dust →
    // mean_t 'unknown'; zero baseline sd → std_ratio 'unknown', where
    // DuckDB unguarded would emit Inf), and l_shift is constant 5.0
    // before the cutoff vs 500.0 after (se = 0 but gap ≫ floor → the
    // constant-shift drift must FAIL with the deterministic floored
    // t = 495 / (TScaleEps × 500) on both engines — the r17 advice
    // case, where pre-r18 both engines demoted it to 'unknown').
    val base = Tables.load(s, dir, "lineitem")
      .select(col("l_quantity"), col("l_extendedprice"), col("l_returnflag"),
        lit(0.0).as("l_zero"),
        when(to_date(col("l_shipdate")) >= lit(GateCutoff), lit(500.0))
          .otherwise(lit(5.0)).as("l_shift"),
        (to_date(col("l_shipdate")) >= lit(GateCutoff)).cast("long")
          .as("__half"))
    // Gate.check reads rowCount / nullRatio / numeric moments /
    // categorical counts only — vocab and exemplars are computed-and-
    // discarded here → off (r19; same flags as stream_gate).
    // Key is a boolean cast → ≤2 groups by construction (r20: skips
    // the defensive narrow distinct pre-pass).
    val opts = ProfilerOptions(
      computeCorrelation = false, computeLabels = false,
      computeOrder = false, computeHistograms = false,
      computeVocab = false, computeExemplars = false,
      keyDomainBounded = true)
    val split = Profiler.profileSplit(base, "__half", opts)
    def halfOf(k: Long) = split.getOrElse(k,
      Profiler.profile(base.filter(lit(false)).drop("__half"), opts))
    val rows = graft.profiler.Gate.check(halfOf(0L), halfOf(1L))
    import s.implicits._
    // NaN statistics (a mirrored precondition fired) emit as NULL so
    // the 'unknown' rows hash identically to the oracle's NULLs —
    // same mapping as stream_gate (r17 self-review; unreachable on the
    // well-spread lineitem fixture, a latent-parity fix only)
    rows.map(g => (g.column, g.metric,
        if (g.statistic.isNaN) None else Some(g.statistic), g.verdict))
      .toDF("col_name", "metric", "statistic", "verdict")
      .orderBy("col_name", "metric")
  }

  private val profileGateSql = {
    // Gate.check preconditions mirrored via the shared fragments above
    // (gateWelchSql / GateCap / gateVerdictSql). The categorical cap
    // here is the EXACT distinct count vs Profiler's approx-NDV cap
    // decision, which can only disagree within HLL error of the cap
    // itself (the gated fixture is 3 categories vs a cap of 1000; a
    // fixture would have to sit in that narrow band to diverge)
    val cap = GateCap
    s"""WITH a AS (SELECT l_quantity, l_extendedprice, l_returnflag,
       |             CAST(0.0 AS DOUBLE) AS l_zero,
       |             CAST(CASE WHEN CAST(l_shipdate AS DATE)
       |                            >= DATE '$GateCutoff'
       |                  THEN 500.0 ELSE 5.0 END AS DOUBLE) AS l_shift
       |           FROM lineitem
       |           WHERE NOT (CAST(l_shipdate AS DATE) >= DATE '$GateCutoff')),
       |b AS (SELECT l_quantity, l_extendedprice, l_returnflag,
       |        CAST(0.0 AS DOUBLE) AS l_zero,
       |        CAST(CASE WHEN CAST(l_shipdate AS DATE) >= DATE '$GateCutoff'
       |             THEN 500.0 ELSE 5.0 END AS DOUBLE) AS l_shift
       |      FROM lineitem
       |      WHERE CAST(l_shipdate AS DATE) >= DATE '$GateCutoff'),
       |ra AS (SELECT count(*) AS rc FROM a),
       |rb AS (SELECT count(*) AS rc FROM b),
       |qa AS (SELECT count(l_quantity) AS n, avg(l_quantity) AS mean,
       |              var_samp(l_quantity) AS v, stddev_samp(l_quantity) AS sd
       |       FROM a),
       |qb AS (SELECT count(l_quantity) AS n, avg(l_quantity) AS mean,
       |              var_samp(l_quantity) AS v, stddev_samp(l_quantity) AS sd
       |       FROM b),
       |ea AS (SELECT count(l_extendedprice) AS n, avg(l_extendedprice) AS mean,
       |              var_samp(l_extendedprice) AS v,
       |              stddev_samp(l_extendedprice) AS sd FROM a),
       |eb AS (SELECT count(l_extendedprice) AS n, avg(l_extendedprice) AS mean,
       |              var_samp(l_extendedprice) AS v,
       |              stddev_samp(l_extendedprice) AS sd FROM b),
       |za AS (SELECT count(l_zero) AS n, avg(l_zero) AS mean,
       |              var_samp(l_zero) AS v, stddev_samp(l_zero) AS sd
       |       FROM a),
       |zb AS (SELECT count(l_zero) AS n, avg(l_zero) AS mean,
       |              var_samp(l_zero) AS v, stddev_samp(l_zero) AS sd
       |       FROM b),
       |sa AS (SELECT count(l_shift) AS n, avg(l_shift) AS mean,
       |              var_samp(l_shift) AS v, stddev_samp(l_shift) AS sd
       |       FROM a),
       |sb AS (SELECT count(l_shift) AS n, avg(l_shift) AS mean,
       |              var_samp(l_shift) AS v, stddev_samp(l_shift) AS sd
       |       FROM b),
       |fa AS (SELECT count(l_returnflag) AS n FROM a),
       |fb AS (SELECT count(l_returnflag) AS n FROM b),
       |cc AS (SELECT coalesce(ca.v, cb.v) AS cat,
       |              CAST(coalesce(ca.n, 0) AS DOUBLE) AS o1,
       |              CAST(coalesce(cb.n, 0) AS DOUBLE) AS o2
       |       FROM (SELECT l_returnflag AS v, count(*) AS n FROM a
       |             WHERE l_returnflag IS NOT NULL GROUP BY 1) ca
       |       FULL JOIN (SELECT l_returnflag AS v, count(*) AS n FROM b
       |                  WHERE l_returnflag IS NOT NULL
       |                  GROUP BY 1) cb ON ca.v = cb.v),
       |tot AS (SELECT sum(o1) AS n1, sum(o2) AS n2, sum(o1) + sum(o2) AS t,
       |               count(*) AS ncat FROM cc),
       |chi AS (SELECT sum(
       |          CASE WHEN n1 * (o1 + o2) / t > 0
       |            THEN power(o1 - n1 * (o1 + o2) / t, 2)
       |                   / (n1 * (o1 + o2) / t) ELSE 0 END +
       |          CASE WHEN n2 * (o1 + o2) / t > 0
       |            THEN power(o2 - n2 * (o1 + o2) / t, 2)
       |                   / (n2 * (o1 + o2) / t) ELSE 0 END) AS stat
       |        FROM cc, tot),
       |unseen AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM (
       |  SELECT DISTINCT l_returnflag FROM b WHERE l_returnflag IS NOT NULL
       |  EXCEPT SELECT DISTINCT l_returnflag FROM a
       |  WHERE l_returnflag IS NOT NULL) u),
       |nca AS (SELECT count(DISTINCT l_returnflag) AS c FROM a
       |        WHERE l_returnflag IS NOT NULL),
       |ncb AS (SELECT count(DISTINCT l_returnflag) AS c FROM b
       |        WHERE l_returnflag IS NOT NULL),
       |vals (col_name, metric, statistic) AS (
       |  SELECT '__table__', 'row_count_ratio_delta',
       |    round(abs(CAST(rb.rc AS DOUBLE) / ra.rc - 1), 6) FROM ra, rb
       |  UNION ALL SELECT 'l_quantity', 'null_ratio_delta',
       |    round(abs(CAST(rb.rc - qb.n AS DOUBLE) / rb.rc
       |              - CAST(ra.rc - qa.n AS DOUBLE) / ra.rc), 6)
       |    FROM ra, rb, qa, qb
       |  UNION ALL SELECT 'l_quantity', 'mean_t_stat',
       |    ${gateWelchSql("qa", "qb")} FROM qa, qb
       |  UNION ALL SELECT 'l_quantity', 'std_ratio_delta',
       |    ${gateStdRatioSql("qa", "qb")} FROM qa, qb
       |  UNION ALL SELECT 'l_extendedprice', 'null_ratio_delta',
       |    round(abs(CAST(rb.rc - eb.n AS DOUBLE) / rb.rc
       |              - CAST(ra.rc - ea.n AS DOUBLE) / ra.rc), 6)
       |    FROM ra, rb, ea, eb
       |  UNION ALL SELECT 'l_extendedprice', 'mean_t_stat',
       |    ${gateWelchSql("ea", "eb")} FROM ea, eb
       |  UNION ALL SELECT 'l_extendedprice', 'std_ratio_delta',
       |    ${gateStdRatioSql("ea", "eb")} FROM ea, eb
       |  UNION ALL SELECT 'l_zero', 'null_ratio_delta',
       |    round(abs(CAST(rb.rc - zb.n AS DOUBLE) / rb.rc
       |              - CAST(ra.rc - za.n AS DOUBLE) / ra.rc), 6)
       |    FROM ra, rb, za, zb
       |  UNION ALL SELECT 'l_zero', 'mean_t_stat',
       |    ${gateWelchSql("za", "zb")} FROM za, zb
       |  UNION ALL SELECT 'l_zero', 'std_ratio_delta',
       |    ${gateStdRatioSql("za", "zb")} FROM za, zb
       |  UNION ALL SELECT 'l_shift', 'null_ratio_delta',
       |    round(abs(CAST(rb.rc - sb.n AS DOUBLE) / rb.rc
       |              - CAST(ra.rc - sa.n AS DOUBLE) / ra.rc), 6)
       |    FROM ra, rb, sa, sb
       |  UNION ALL SELECT 'l_shift', 'mean_t_stat',
       |    ${gateWelchSql("sa", "sb")} FROM sa, sb
       |  UNION ALL SELECT 'l_shift', 'std_ratio_delta',
       |    ${gateStdRatioSql("sa", "sb")} FROM sa, sb
       |  UNION ALL SELECT 'l_returnflag', 'null_ratio_delta',
       |    round(abs(CAST(rb.rc - fb.n AS DOUBLE) / rb.rc
       |              - CAST(ra.rc - fa.n AS DOUBLE) / ra.rc), 6)
       |    FROM ra, rb, fa, fb
       |  UNION ALL SELECT 'l_returnflag', 'chi2_per_dof',
       |    round(CASE WHEN n1 = 0 OR n2 = 0 OR ncat < 2
       |               OR nca.c > $cap OR ncb.c > $cap THEN NULL
       |          ELSE stat / (ncat - 1) END, 6) FROM chi, tot, nca, ncb
       |  UNION ALL SELECT 'l_returnflag', 'unseen_categories',
       |    CASE WHEN nca.c > $cap OR ncb.c > $cap THEN NULL
       |         ELSE unseen.c END
       |    FROM unseen, nca, ncb)
       |SELECT col_name, metric, statistic,
       |  $gateVerdictSql
       |FROM vals ORDER BY col_name, metric""".stripMargin
  }

  // --------------------------------------------------------- report_flat
  /** Oracle gate for the REPORT surface (`Report.toJson` → `flat`, the
    * reference's `report(output_format="flat")`,
    * profile_builder.py:2054-2110): profile three orders columns, flatten
    * the report, and emit the integer/string-valued keys — so the JSON
    * key naming, array indexing, and dotted-path flattening are all
    * pinned by DuckDB restating the same (key, value) pairs from the raw
    * table. Float-valued report fields stay unit-tested (their string
    * rendering is engine-specific). */
  private def reportFlat(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.load(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    // every `keep` key below traces to pass 1 (row/null counts, zeros,
    // negatives, sample_size = n + nulls) or pass 2 (categorical
    // counts); the report's vocab_size and samples keys are FILTERED
    // OUT by `keep`, so their passes (a full char-explode of
    // o_orderstatus, a limit(100) head probe) computed state the
    // emitted rows never read → off (r20, r19-verdict #7 audit;
    // guide §1.2 "don't compute things you throw away")
    val opts = ProfilerOptions(
      computeCorrelation = false, computeLabels = false,
      computeOrder = false, computeHistograms = false,
      computeVocab = false, computeExemplars = false)
    val flat = graft.profiler.Report.flat(Profiler.profile(df, opts))
    val keep: Seq[String] =
      Seq("global_stats.row_count", "global_stats.column_count",
        "global_stats.samples_used") ++
        (0 until 3).flatMap(i => Seq(
          s"data_stats.$i.column_name", s"data_stats.$i.data_type",
          s"data_stats.$i.sample_size", s"data_stats.$i.null_count")) ++
        Seq("data_stats.0.statistics.num_zeros",
          "data_stats.0.statistics.num_negatives",
          "data_stats.2.categorical.unique_count") ++
        flat.keys.filter(_.startsWith("data_stats.2.categorical.categories."))
          .toSeq.sorted
    import s.implicits._
    keep.map(k => k -> flat(k)).toDF("key", "value").orderBy("key")
  }

  private val reportFlatSql =
    """SELECT key, value FROM (
      |  SELECT 'global_stats.row_count' AS key,
      |         CAST(count(*) AS VARCHAR) AS value FROM orders
      |  UNION ALL SELECT 'global_stats.column_count', '3'
      |  UNION ALL SELECT 'global_stats.samples_used',
      |    CAST(count(*) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.0.column_name', 'o_orderkey'
      |  UNION ALL SELECT 'data_stats.1.column_name', 'o_custkey'
      |  UNION ALL SELECT 'data_stats.2.column_name', 'o_orderstatus'
      |  UNION ALL SELECT 'data_stats.0.data_type', 'int'
      |  UNION ALL SELECT 'data_stats.1.data_type', 'int'
      |  UNION ALL SELECT 'data_stats.2.data_type', 'string'
      |  UNION ALL SELECT 'data_stats.0.sample_size',
      |    CAST(count(*) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.1.sample_size',
      |    CAST(count(*) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.2.sample_size',
      |    CAST(count(*) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.0.null_count',
      |    CAST(count(*) - count(o_orderkey) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.1.null_count',
      |    CAST(count(*) - count(o_custkey) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.2.null_count',
      |    CAST(count(*) - count(o_orderstatus) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.0.statistics.num_zeros',
      |    CAST(count(*) FILTER (o_orderkey = 0) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.0.statistics.num_negatives',
      |    CAST(count(*) FILTER (o_orderkey < 0) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.2.categorical.unique_count',
      |    CAST(count(DISTINCT o_orderstatus) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'data_stats.2.categorical.categories.'
      |      || o_orderstatus, CAST(count(*) AS VARCHAR)
      |    FROM orders WHERE o_orderstatus IS NOT NULL
      |    GROUP BY o_orderstatus
      |) t ORDER BY key""".stripMargin

  // ------------------------------------------------------- stream_profile
  /** Oracle gate for the STREAMING profiler (`StreamingProfiler.sink`,
    * the reference's incremental `update_profile` loop on a real
    * streaming runtime): a lineitem slice is staged as 4 parquet files,
    * replayed through a file stream one file per micro-batch
    * (AvailableNow), profiled batch-by-batch through the foreachBatch
    * sink, and the EXACTLY-mergeable stats of the final state are
    * emitted — DuckDB states the same numbers from the raw table, so any
    * drift in the per-batch profile or the merge algebra breaks the
    * hash. `n_batches` pins that the stream really ran multi-batch. */
  // 1/8 slice: the gate tests the merge algebra across real micro-batches,
  // which is row-volume-independent — a bigger slice only inflates the
  // 4 per-batch profile passes
  private val StreamMod = 8
  private val StreamKeep = 1
  private val StreamFiles = 4

  private def streamProfile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .filter(col("l_orderkey") % StreamMod < StreamKeep)
    // digest covers the slice params too: changing them must invalidate
    // the staged files, not silently replay the old slice
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((java.nio.file.Paths.get(dir).toAbsolutePath.normalize()
        .toString + s"#$StreamMod/$StreamKeep/$StreamFiles")
        .getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val stage = graft.Stage.dir("stream_profile").resolve(digest).toString
    ReaderQueries.cachedFixture(s"$stage/_done", dir) {
      li.drop("l_orderkey").repartition(StreamFiles)
        .write.mode("overwrite").parquet(stage)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$stage/_done"), "ok")
    }
    val opts = ProfilerOptions(
      computeCorrelation = false, computeLabels = false,
      computeOrder = false, computeHistograms = false,
      vocabCharsPerValue = Int.MaxValue,
      // vocab IS emitted (returnflag_vocab) and stays on; exemplars
      // never are → skip the head probe each micro-batch pays (r19)
      computeExemplars = false)
    val sp = new graft.streaming.StreamingProfiler(opts)
    var nBatches = 0L
    // a batch counts when the profile's row count grows: AvailableNow may
    // add an empty tail, and probing each batch for rows would cost a job
    // on the stream's clone session
    val sink = GraftSessions.foreachBatchOn(s) { (batch, id) =>
      val before = sp.current.fold(0L)(_.rowCount)
      sp.sink(batch, id)
      if (sp.current.fold(0L)(_.rowCount) > before) nBatches += 1
    }
    val schema = s.read.parquet(stage).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .writeStream.foreachBatch(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val p = sp.current.get
    val qty = p.column("l_quantity").get
    val qn = qty.numeric.get
    val rf = p.column("l_returnflag").get
    val kv: Seq[(String, Double)] = Seq(
      "n_batches" -> nBatches.toDouble,
      "row_count" -> p.rowCount.toDouble,
      "quantity_n" -> qn.n.toDouble,
      "quantity_min" -> qn.min,
      "quantity_max" -> qn.max,
      "quantity_sum" -> qn.sum,
      "returnflag_vocab" -> rf.text.get.vocab.size.toDouble) ++
      rf.categorical.get.counts.toSeq.sortBy(_._1)
        .map { case (v, c) => s"returnflag_cat_$v" -> c.toDouble }
    import s.implicits._
    kv.toDF("key", "value").orderBy("key")
  }

  private val streamProfileSql =
    s"""WITH li AS (SELECT * FROM lineitem
       |            WHERE l_orderkey % $StreamMod < $StreamKeep)
       |SELECT key, CAST(value AS DOUBLE) AS value FROM (
       |  SELECT 'n_batches' AS key, $StreamFiles AS value
       |  UNION ALL SELECT 'row_count', count(*) FROM li
       |  UNION ALL SELECT 'quantity_n', count(l_quantity) FROM li
       |  UNION ALL SELECT 'quantity_min', min(l_quantity) FROM li
       |  UNION ALL SELECT 'quantity_max', max(l_quantity) FROM li
       |  UNION ALL SELECT 'quantity_sum', sum(l_quantity) FROM li
       |  UNION ALL SELECT 'returnflag_vocab',
       |    count(DISTINCT ch) FROM (
       |      SELECT unnest(string_split_regex(l_returnflag, '')) AS ch
       |      FROM li) c WHERE ch != ''
       |  UNION ALL SELECT concat('returnflag_cat_', l_returnflag), count(*)
       |    FROM li GROUP BY l_returnflag
       |) t ORDER BY key""".stripMargin

  // ---------------------------------------------------------- stream_gate
  /** The regression gate AS A STREAMING CONSUMER — [[graft.profiler.Gate]]
    * wired over successive [[graft.streaming.StreamingProfiler]]-style
    * micro-batch profiles, the rolling data-quality job a scheduled
    * pipeline actually runs around `p1.diff(p2)` (the reference's
    * documented update-loop pattern, profile_builder.py:809-842 +
    * merge_profile_list). Snapshot identity is DATA-DEFINED (the ship
    * year), not trigger-defined: each micro-batch's rows are profiled
    * per-year in ONE grouped pass (profileSplit) and merged into
    * per-year slots as they arrive, so replay order and file/trigger
    * packing cannot change the result — the property that makes a
    * streaming gate oracle-comparable at all (and the property a real
    * rolling gate needs anyway: late/out-of-order snapshot rows must
    * land in their snapshot, not in whichever trigger saw them). After
    * the stream drains, each present year is gated against the MERGE of
    * all prior present years, oldest first — exactly the
    * baseline-vs-next-snapshot loop, one gate row per (year, column,
    * metric).
    *
    * Scale shape: corpus-sized work is the per-trigger grouped
    * profileSplit pass (bounded driver state: years × columns ×
    * metrics); the gate itself is driver math. NaN statistics are
    * emitted as NULL so the 'unknown' verdict rows hash identically on
    * both engines. */
  private def streamGate(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_orderkey") % StreamMod < StreamKeep)
      .select(col("l_quantity"), col("l_returnflag"),
        year(to_date(col("l_shipdate"))).as("y"))
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((java.nio.file.Paths.get(dir).toAbsolutePath.normalize()
        .toString + s"#gate$StreamMod/$StreamKeep/$StreamFiles")
        .getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val stage = graft.Stage.dir("stream_gate").resolve(digest).toString
    ReaderQueries.cachedFixture(s"$stage/_done", dir) {
      li.repartition(StreamFiles).write.mode("overwrite").parquet(stage)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$stage/_done"), "ok")
    }
    // Gate.check never reads vocab or exemplars; at 4 micro-batches ×
    // ~7 year-groups the per-group exemplar probes alone were ~28 of
    // this query's 80 jobs (r19 census) → both off.
    // Key is year(shipdate) → calendar-bounded cardinality (and the
    // post-stream require pins it inside StreamGateYearDomain), so the
    // defensive narrow distinct pre-pass is skipped — it was 3 AQE
    // jobs and one column-pruned scan of the batch PER MICRO-BATCH
    // (r20 trace: 12 of stream_gate's 44 jobs).
    val opts = ProfilerOptions(
      computeCorrelation = false, computeLabels = false,
      computeOrder = false, computeHistograms = false,
      computeVocab = false, computeExemplars = false,
      keyDomainBounded = true)
    val slots = scala.collection.mutable.Map[Long, graft.profiler.Profile]()
    // each micro-batch is re-bound onto `s` (as StreamingProfiler.sink
    // does), so its generated classes compile once per session, not once
    // per stream. An empty batch needs no emptiness probe: with a bounded
    // key domain its split runs pass 1 only and yields no groups.
    val sink = GraftSessions.foreachBatchOn(s) { (batch, _) =>
      Profiler.profileSplit(batch, "y", opts).foreach { case (yy, p) =>
        slots(yy) = slots.get(yy).map(_.merge(p)).getOrElse(p)
      }
    }
    val schema = s.read.parquet(stage).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .writeStream.foreachBatch(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val years = slots.keys.toSeq.sorted
    // the oracle is GENERATED over StreamGateYearDomain — a realized
    // year outside it would be silently absent from the oracle and
    // surface as a confusing hash mismatch, so fail loudly here
    // instead (r17 advice: domain drift must not be silent)
    require(years.forall(y =>
        y >= StreamGateYearDomain.head && y <= StreamGateYearDomain.last),
      s"stream_gate: realized shipdate years ${years.mkString(",")} " +
        s"escape the generated oracle domain ${StreamGateYearDomain.head}-" +
        s"${StreamGateYearDomain.last}; widen StreamGateYearDomain")
    val rows = years.indices.drop(1).flatMap { i =>
      val baseline = years.take(i).map(slots).reduce(_ merge _)
      graft.profiler.Gate.check(baseline, slots(years(i))).map { g =>
        (years(i).toInt, g.column, g.metric,
          if (g.statistic.isNaN) None else Some(g.statistic), g.verdict)
      }
    }
    import s.implicits._
    rows.toDF("batch_year", "col_name", "metric", "statistic", "verdict")
      .orderBy("batch_year", "col_name", "metric")
  }

  /** Per-year oracle, generated over the full possible shipdate-year
    * domain of the synthetic tables (1995-01-01 + ≤2500 days → years
    * 1995-2001; the generated span 1993-2004 carries margin on both
    * sides) with presence guards — a year absent from the slice (or
    * with no prior present year) emits no rows on either engine, so
    * the SQL needs no knowledge of which years a given SF realizes.
    * Statistic formulas, degenerate-input preconditions
    * (NULL → 'unknown'), the TScaleEps near-constant floor, the
    * category cap, and the fence CASE are all the profile_gate
    * oracle's, applied per (prior-years, year) pair. */
  private val streamGateSql = {
    // formulas/fences/preconditions via the SAME shared fragments as
    // profile_gate's oracle (gateWelchSql / GateCap / gateVerdictSql)
    val cap = GateCap
    val years = StreamGateYearDomain
    val blocks = years.map { y =>
      s"""a$y AS (SELECT l_quantity, l_returnflag FROM li WHERE y < $y),
         |b$y AS (SELECT l_quantity, l_returnflag FROM li WHERE y = $y),
         |ra$y AS (SELECT count(*) AS rc FROM a$y),
         |rb$y AS (SELECT count(*) AS rc FROM b$y),
         |qa$y AS (SELECT count(l_quantity) AS n, avg(l_quantity) AS mean,
         |         var_samp(l_quantity) AS v, stddev_samp(l_quantity) AS sd
         |         FROM a$y),
         |qb$y AS (SELECT count(l_quantity) AS n, avg(l_quantity) AS mean,
         |         var_samp(l_quantity) AS v, stddev_samp(l_quantity) AS sd
         |         FROM b$y),
         |fa$y AS (SELECT count(l_returnflag) AS n FROM a$y),
         |fb$y AS (SELECT count(l_returnflag) AS n FROM b$y),
         |cc$y AS (SELECT CAST(coalesce(ca.n, 0) AS DOUBLE) AS o1,
         |                CAST(coalesce(cb.n, 0) AS DOUBLE) AS o2
         |         FROM (SELECT l_returnflag AS v, count(*) AS n FROM a$y
         |               WHERE l_returnflag IS NOT NULL GROUP BY 1) ca
         |         FULL JOIN (SELECT l_returnflag AS v, count(*) AS n
         |                    FROM b$y WHERE l_returnflag IS NOT NULL
         |                    GROUP BY 1) cb ON ca.v = cb.v),
         |tot$y AS (SELECT sum(o1) AS n1, sum(o2) AS n2,
         |                 sum(o1) + sum(o2) AS t, count(*) AS ncat
         |          FROM cc$y),
         |chi$y AS (SELECT sum(
         |            CASE WHEN n1 * (o1 + o2) / t > 0
         |              THEN power(o1 - n1 * (o1 + o2) / t, 2)
         |                     / (n1 * (o1 + o2) / t) ELSE 0 END +
         |            CASE WHEN n2 * (o1 + o2) / t > 0
         |              THEN power(o2 - n2 * (o1 + o2) / t, 2)
         |                     / (n2 * (o1 + o2) / t) ELSE 0 END) AS stat
         |          FROM cc$y, tot$y),
         |unseen$y AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM (
         |  SELECT DISTINCT l_returnflag FROM b$y
         |  WHERE l_returnflag IS NOT NULL
         |  EXCEPT SELECT DISTINCT l_returnflag FROM a$y
         |  WHERE l_returnflag IS NOT NULL) u),
         |nca$y AS (SELECT count(DISTINCT l_returnflag) AS c FROM a$y
         |          WHERE l_returnflag IS NOT NULL),
         |ncb$y AS (SELECT count(DISTINCT l_returnflag) AS c FROM b$y
         |          WHERE l_returnflag IS NOT NULL)"""
        .stripMargin
    }
    val vals = years.map { y =>
      val present = s"ra$y.rc > 0 AND rb$y.rc > 0"
      s"""  SELECT $y AS batch_year, '__table__' AS col_name,
         |    'row_count_ratio_delta' AS metric,
         |    round(abs(CAST(rb$y.rc AS DOUBLE) / ra$y.rc - 1), 6)
         |      AS statistic
         |    FROM ra$y, rb$y WHERE $present
         |  UNION ALL SELECT $y, 'l_quantity', 'null_ratio_delta',
         |    round(abs(CAST(rb$y.rc - qb$y.n AS DOUBLE) / rb$y.rc
         |              - CAST(ra$y.rc - qa$y.n AS DOUBLE) / ra$y.rc), 6)
         |    FROM ra$y, rb$y, qa$y, qb$y WHERE $present
         |  UNION ALL SELECT $y, 'l_quantity', 'mean_t_stat',
         |    ${gateWelchSql(s"qa$y", s"qb$y")}
         |    FROM qa$y, qb$y, ra$y, rb$y WHERE $present
         |  UNION ALL SELECT $y, 'l_quantity', 'std_ratio_delta',
         |    ${gateStdRatioSql(s"qa$y", s"qb$y")}
         |    FROM qa$y, qb$y, ra$y, rb$y WHERE $present
         |  UNION ALL SELECT $y, 'l_returnflag', 'null_ratio_delta',
         |    round(abs(CAST(rb$y.rc - fb$y.n AS DOUBLE) / rb$y.rc
         |              - CAST(ra$y.rc - fa$y.n AS DOUBLE) / ra$y.rc), 6)
         |    FROM ra$y, rb$y, fa$y, fb$y WHERE $present
         |  UNION ALL SELECT $y, 'l_returnflag', 'chi2_per_dof',
         |    round(CASE WHEN n1 = 0 OR n2 = 0 OR ncat < 2
         |               OR nca$y.c > $cap OR ncb$y.c > $cap THEN NULL
         |          ELSE stat / (ncat - 1) END, 6)
         |    FROM chi$y, tot$y, nca$y, ncb$y, ra$y, rb$y WHERE $present
         |  UNION ALL SELECT $y, 'l_returnflag', 'unseen_categories',
         |    CASE WHEN nca$y.c > $cap OR ncb$y.c > $cap THEN NULL
         |         ELSE unseen$y.c END
         |    FROM unseen$y, nca$y, ncb$y, ra$y, rb$y WHERE $present"""
        .stripMargin
    }
    s"""WITH li AS (SELECT l_quantity, l_returnflag,
       |  year(CAST(l_shipdate AS DATE)) AS y FROM lineitem
       |  WHERE l_orderkey % $StreamMod < $StreamKeep),
       |${blocks.mkString(",\n")},
       |vals (batch_year, col_name, metric, statistic) AS (
       |${vals.mkString("\n  UNION ALL\n")})
       |SELECT batch_year, col_name, metric, statistic,
       |  $gateVerdictSql
       |FROM vals ORDER BY batch_year, col_name, metric""".stripMargin
  }

  override val qs: Seq[Q] = Seq(
    Q("profile_merge", profileMerge, Some(profileMergeSql)),
    Q("profile_diff", profileDiff, Some(profileDiffSql)),
    Q("profile_gate", profileGate, Some(profileGateSql)),
    Q("stream_gate",
      (s, d) => StreamingQueries.withStatePartitions(s,
        StreamingQueries.sizedStatePartitions(d, "lineitem",
          StreamKeep.toDouble / StreamMod))(
        streamGate(s, d)),
      Some(streamGateSql)),
    Q("report_flat", reportFlat, Some(reportFlatSql)),
    Q("stream_profile",
      (s, d) => StreamingQueries.withStatePartitions(s,
        // the query streams only the staged % StreamMod < StreamKeep
        // slice — size the state stores from the bytes actually
        // streamed, not the whole table's
        StreamingQueries.sizedStatePartitions(d, "lineitem",
          StreamKeep.toDouble / StreamMod))(
        streamProfile(s, d)),
      Some(streamProfileSql)))
}
