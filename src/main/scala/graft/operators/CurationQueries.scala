package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators beyond the reference's surface (SURVEY §2.13):
  * a TRAINED linear quality classifier (the fastText-style wiki-vs-crawl
  * filter used by GPT-3/LLaMA data pipelines) fit entirely in DataFrame
  * algebra, token-distribution drift monitoring (PSI + Jensen-Shannon)
  * between corpus slices, and the C4-style multi-stage filter funnel
  * census that real pipelines report before committing a crawl snapshot.
  *
  * Scale shape: the classifier's only corpus-sized structure is one
  * cached per-doc feature-array frame — every gradient-descent
  * iteration is a map-only broadcast-literal scoring pass plus ONE
  * bounded shuffle (per-bucket gradient), and the model itself is
  * ≤ [[ClfBuckets]] weights collected driver-side (the NB/centroid
  * bounded-model precedent). Drift shuffles (slice × bucket) partial counts only; the
  * funnel is one map-side scan plus a fingerprint window over survivors.
  *
  * Determinism contract (cross-engine): md5-derived hash buckets, all
  * cross-row float sums as scaled-long exact additions (the
  * graph_pagerank pattern — long addition is order-independent), model
  * state rounded at 8 dp per iteration, probabilities at 6 dp before
  * any comparison.
  */
object CurationQueries extends QueryModule {

  /** Whitespace tokens, empties dropped — bit-identical to DuckDB's
    * `list_filter(string_split(text,' '), x -> x != '')`. */
  private def tokArr: Column = filter(split(col("text"), " "), x => x =!= "")

  /** md5-derived hash bucket of a token column — reproducible in DuckDB
    * as `CAST(concat('0x', substr(md5(w),1,8)) AS BIGINT) % nb`. */
  private def bucketOf(w: Column, nb: Int): Column =
    conv(substring(md5(w), 1, 8), 16, 10).cast("long") % nb

  /** Exact order-independent sum of `e` (double) at `scale` decimal
    * places: round each term to a scaled long, add longs. */
  private def exactSum(e: Column, scale: Double): Column =
    sum(round(e * scale).cast("long")).cast("double") / scale

  // funnel constants up front: referenced by quality_classifier's SQL val,
  // and object vals initialize in declaration order
  private val FunnelLangs = Seq("en", "de", "fr", "es")
  private val FunnelMinTok = 30
  private val FunnelMaxTok = 90
  private val FunnelMinDistinct = 0.4
  private val FunnelBlocklist = Seq("slow", "leak")

  // ---------------------------------------------------- quality_classifier
  private val ClfBuckets = 256
  private val ClfIters = 16
  private val ClfL0 = 12.0

  /** 6dp learning-rate schedule L0/√t — decaying steps make full-batch
    * GD converge where a constant rate oscillates on near-separable
    * data; each iteration's rate is a literal in both engines. */
  private def clfLr(t: Int): Double =
    math.rint(ClfL0 / math.sqrt(t.toDouble) * 1e6) / 1e6

  /** Trained quality classifier by POLICY DISTILLATION — the
    * fastText-style hashed linear classifier that DCLM / GPT-3-family
    * data pipelines train to approximate an expensive filter, here
    * distilling the funnel's rule-based blocklist stage
    * ([[FunnelBlocklist]]) into logistic regression over md5-hashed
    * token-presence features, trained by full-batch gradient descent in
    * pure DataFrame algebra — no MLlib, no UDFs.
    *
    * Fit: [[ClfIters]] GD rounds w ← w − lr_t·∇ under the L0/√t
    * schedule; each round is a map-only literal-table scoring pass →
    * ONE fixed-size per-bucket gradient array aggregate
    * ([[graft.functions.BucketGradAggregate]], ≤ [[ClfBuckets]]+1 longs),
    * with the model collected driver-side (the NB/centroid
    * bounded-model precedent); scoring is map-only — the
    * sorted bucket array travels with the doc. Score and gradient sums are
    * scaled-long exact (order-proof); weights round at 8 dp per round,
    * probabilities at 6 dp, so DuckDB reproduces the whole training
    * trajectory as unrolled CTEs. The fit recovers the rule exactly on
    * this corpus (accuracy 1.0 at every SF — the blocklist words' own
    * buckets get the dominant negative weights).
    *
    * Output: per-true-label census of the final model — n_docs, mean
    * predicted P(clean), docs predicted clean at the 0.5 threshold.
    *
    * 100 TB shape: the corpus-sized structure is ONE cached per-doc
    * feature-array frame; every iteration reuses it with a map-only
    * scoring pass and one bounded gradient shuffle. The model
    * (≤ [[ClfBuckets]]+1 doubles) never grows with the corpus. */
  private def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val blockedCol =
      arrays_overlap(tokArr, typedlit(FunnelBlocklist))
    // one cached frame: each doc's distinct bucket set as a sorted array,
    // so scoring is MAP-ONLY (no join, no shuffle — the feature vector
    // travels with the doc, exactly how a 100 TB scoring pass should)
    val feats = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        when(blockedCol, 0.0).otherwise(1.0).as("y"),
        // distinct sorted bucket set in one codegen'd pass — equal to
        // sort_array(array_distinct(transform(tokens, bucketOf))) but
        // without the interpreted per-token lambda + md5 hex round-trip
        graft.functions.HashBuckets(col("text"), ClfBuckets, asSet = true)
          .as("bs"))
      .transform(graft.functions.cacheOnce)
    val nDocs = feats.count()

    // per-doc score Σ_{b∈doc} w_b + bias as an in-array scaled-long fold
    // (long addition is exact and commutative, so the array-order sum
    // equals the relational order-independent sum the oracle computes),
    // then the 6dp sigmoid
    def score(w: Map[Long, Double], bias: Double): DataFrame = {
      // The per-doc logit Σ_{b∈doc} round(w_b·1e8) is a gather-sum over
      // an iteration-CONSTANT weight table: precompute the 256 scaled
      // longs ONCE driver-side — `BigDecimal(w_b·1e8).setScale(0,
      // HALF_UP)` is exactly what Spark's Round(double) computed per
      // element — and fold them with the codegen'd BucketSum gather-add.
      // The `aggregate(bs, 0L, (acc,b) -> acc + round(...))` higher-order
      // fold it replaces evaluated INTERPRETED per array element (the
      // measured WordGrams/IntersectCount lesson).
      val table = Array.tabulate(ClfBuckets) { b =>
        val wb = w.getOrElse(b.toLong, 0.0)
        if (wb == 0.0) 0L
        else BigDecimal(wb * 1e8)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toLong
      }
      val sCol = graft.functions.BucketSum(col("bs"), table)
        .cast("double") / 1e8 + bias
      feats
        .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-sCol)), 6))
        .withColumn("g", col("p") - col("y"))
    }

    // Spark's Round(double, 8): scala BigDecimal(d) (= shortest decimal
    // repr) setScale HALF_UP — replicated here so the driver-side weight
    // update is bit-identical to the round() both engines' SQL applies
    def round8(x: Double): Double = graft.functions.roundHalfUp(x, 8)

    var w = Map.empty[Long, Double]
    var bias = 0.0
    // gradient as ONE fixed-size array aggregate per iteration
    // (BucketGradAggregate, r20): the old explode(bs ++ [-1]) → groupBy(b)
    // shuffled rows × buckets-per-doc records to a 256-key hash
    // aggregation every GD round; now each task folds its docs into a
    // local 257-slot long array and the exchange carries one ~2 KB
    // array per task. Same scaled-long sums (exact, order-free) —
    // bit-identical weights, pinned by BucketGradAggSpec.
    // AQE OFF for the 16 bounded gradient materializations (r20, r19
    // verdict #3): each iteration's only exchange now carries one
    // ~2 KB long array per map task into a single-partition final —
    // there is nothing for adaptive re-planning to coalesce or
    // skew-split at ANY scale, and AQE's per-exchange stage
    // materialization costs one extra job + scheduling barrier per GD
    // round (trace: 2 jobs/round → 1). Scoped by SessionConfs.withConf
    // (an unset key is restored as unset); results are plan-independent
    // (exact long sums) and hash-verified.
    graft.SessionConfs.withConf(s, "spark.sql.adaptive.enabled", "false") {
      for (t <- 1 to ClfIters) {
        val sums = score(w, bias)
          .select(col("bs"), round(col("g") * 1e6).cast("long").as("gs"))
          .agg(graft.functions.BucketGradAggregate(col("bs"), col("gs"),
            ClfBuckets).as("sums"))
          .head().getSeq[Long](0) // bounded: ClfBuckets+1 longs
        val lr = clfLr(t)
        // buckets never seen in any doc have sums(b) = 0 and had no
        // explode row before: w_b stays absent either way (an absent key
        // and an explicit 0.0 weight score identically — getOrElse(0.0))
        w = (0 until ClfBuckets).iterator
          .filter(b => sums(b) != 0L || w.contains(b.toLong)).map { b =>
            b.toLong -> round8(w.getOrElse(b.toLong, 0.0)
              - lr * (sums(b).toDouble / 1e6) / nDocs)
          }.toMap
        bias = round8(bias - lr * (sums(ClfBuckets).toDouble / 1e6) / nDocs)
      }
    }

    score(w, bias)
      .groupBy("y")
      .agg(count(lit(1)).as("n_docs"),
        exactSum(col("p"), 1e6).as("sp"),
        sum(when(col("p") >= 0.5, 1L).otherwise(0L)).as("n_pred_clean"))
      .select(
        when(col("y") === 1.0, "clean").otherwise("blocked").as("label"),
        col("n_docs"),
        round(col("sp") / col("n_docs"), 6).as("avg_p"),
        col("n_pred_clean"))
      .orderBy("label")
  }

  private val qualityClassifierSql = {
    val block = FunnelBlocklist.map(x => s"'$x'").mkString(", ")
    val head =
      s"""WITH lab AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN len(list_intersect(
         |           list_filter(string_split(text, ' '), x -> x != ''),
         |           [$block])) > 0 THEN 0.0 ELSE 1.0 END AS y,
         |    list_distinct(list_filter(string_split(text, ' '),
         |                              x -> x != '')) AS ws
         |  FROM documents),
         |db AS MATERIALIZED (SELECT DISTINCT doc_id, y,
         |         CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT)
         |           % $ClfBuckets AS b
         |       FROM (SELECT doc_id, y, unnest(ws) AS w FROM lab)),
         |nn AS (SELECT count(DISTINCT doc_id) AS n FROM db),
         |w0 AS (SELECT CAST(NULL AS BIGINT) AS b, CAST(NULL AS DOUBLE) AS w
         |       WHERE false),
         |bias0 AS (SELECT 0.0 AS bias)""".stripMargin
    val iters = (1 to ClfIters).map { i =>
      val j = i - 1
      val lr = clfLr(i)
      s"""s$i AS (SELECT doc_id, y,
         |          CAST(sum(CAST(round(coalesce(w, 0.0) * 1e8) AS BIGINT))
         |               AS DOUBLE) / 1e8 + bias AS s
         |        FROM db LEFT JOIN w$j USING (b) CROSS JOIN bias$j
         |        GROUP BY doc_id, y, bias),
         |p$i AS MATERIALIZED (SELECT doc_id, y,
         |          round(1.0 / (1.0 + exp(-s)), 6) - y AS g
         |        FROM s$i),
         |grad$i AS (SELECT b,
         |             CAST(sum(CAST(round(g * 1e6) AS BIGINT)) AS DOUBLE)
         |               / 1e6 AS gb
         |           FROM db JOIN p$i USING (doc_id) GROUP BY b),
         |w$i AS MATERIALIZED (SELECT grad$i.b,
         |          round(coalesce(wp.w, 0.0) - $lr * gb / n, 8) AS w
         |        FROM grad$i LEFT JOIN w$j wp USING (b) CROSS JOIN nn),
         |bias$i AS MATERIALIZED (SELECT round(bias - $lr *
         |             (CAST(sum(CAST(round(g * 1e6) AS BIGINT)) AS DOUBLE)
         |              / 1e6) / n, 8) AS bias
         |           FROM p$i CROSS JOIN bias$j CROSS JOIN nn
         |           GROUP BY bias, n)""".stripMargin
    }.mkString(",\n")
    val t = ClfIters
    s"""$head,
       |$iters,
       |sfin AS (SELECT doc_id, y,
       |         CAST(sum(CAST(round(coalesce(w, 0.0) * 1e8) AS BIGINT))
       |              AS DOUBLE) / 1e8 + bias AS s
       |       FROM db LEFT JOIN w$t USING (b) CROSS JOIN bias$t
       |       GROUP BY doc_id, y, bias),
       |pf AS (SELECT y, round(1.0 / (1.0 + exp(-s)), 6) AS p FROM sfin)
       |SELECT CASE WHEN y = 1.0 THEN 'clean' ELSE 'blocked' END AS label,
       |  count(*) AS n_docs,
       |  round((CAST(sum(CAST(round(p * 1e6) AS BIGINT)) AS DOUBLE) / 1e6)
       |        / count(*), 6) AS avg_p,
       |  CAST(sum(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pred_clean
       |FROM pf GROUP BY y ORDER BY label""".stripMargin
  }

  // --------------------------------------------------------- token_drift
  private val DriftBuckets = 256

  /** Token-distribution drift per corpus slice — the monitoring step a
    * production pipeline runs when a new crawl snapshot (here: each
    * `source`) lands: how far is this slice's token distribution from
    * the corpus reference? Reported as PSI (the model-monitoring
    * standard, Σ (p−q)·ln(p/q)) and Jensen-Shannon divergence (bounded,
    * symmetric) over add-1-smoothed md5-hashed token buckets.
    *
    * Plan: one token explode → (source, bucket) partial-agg'd counts
    * (the only corpus-sized shuffle, ≤ |sources|×[[DriftBuckets]] keys,
    * cached); the reference distribution folds out of the same frame;
    * the per-slice divergence is a grid of |sources|×[[DriftBuckets]]
    * smoothed terms summed scaled-long exact. At 100 TB: sources and
    * buckets are both bounded, so everything after the first partial
    * agg is constant-size. */
  private def tokenDrift(s: SparkSession, dir: String): DataFrame = {
    // per-doc bucket-count vectors in ONE codegen'd pass (tokenize +
    // digest + bucket in-row, graft_hashbuckets) — the explode→md5→
    // hex→conv chain it replaces paid a Generate row and two string
    // round-trips per corpus token; the Generate left is nb slots/doc
    val sb = Tables.load(s, dir, "documents")
      .select(col("source"),
        posexplode(graft.functions.HashBuckets(col("text"), DriftBuckets,
          asSet = false)))
      .filter(col("col") > 0)
      .select(col("source"), col("pos").cast("long").as("b"),
        col("col").as("c0"))
      .groupBy("source", "b").agg(sum("c0").as("c"))
      .transform(graft.functions.cacheOnce)
    val ref = sb.groupBy("b").agg(sum("c").as("cb"))
    val tot = ref.agg(sum("cb").as("nt"))
    val srcTot = sb.groupBy("source").agg(sum("c").as("ns"))
    val ps = (coalesce(col("c"), lit(0L)) + 1.0) /
      (col("ns") + DriftBuckets)
    val pr = (col("cb") + 1.0) / (col("nt") + DriftBuckets)
    val m = (ps + pr) / 2.0
    val psiT = (ps - pr) * log(ps / pr)
    val jsT = (ps * log(ps / m) + pr * log(pr / m)) / 2.0
    srcTot.crossJoin(broadcast(ref))
      .join(sb, Seq("source", "b"), "left")
      .crossJoin(broadcast(tot))
      .groupBy("source")
      .agg(first("ns").as("n_tokens"),
        exactSum(psiT, 1e12).as("psi_raw"),
        exactSum(jsT, 1e12).as("js_raw"))
      .select(col("source"), col("n_tokens"),
        round(col("psi_raw"), 6).as("psi"),
        round(col("js_raw"), 6).as("js"))
      .orderBy("source")
  }

  private val tokenDriftSql =
    s"""WITH tok AS (SELECT source,
       |               unnest(list_filter(string_split(text, ' '),
       |                                  x -> x != '')) AS w
       |             FROM documents),
       |sb AS (SELECT source,
       |         CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT)
       |           % $DriftBuckets AS b,
       |         count(*) AS c
       |       FROM tok GROUP BY 1, 2),
       |ref AS (SELECT b, sum(c) AS cb FROM sb GROUP BY 1),
       |tot AS (SELECT sum(cb) AS nt FROM ref),
       |st AS (SELECT source, sum(c) AS ns FROM sb GROUP BY 1),
       |grid AS (SELECT st.source, st.ns, ref.b, ref.cb, sb.c, tot.nt
       |         FROM st CROSS JOIN ref
       |         LEFT JOIN sb ON sb.source = st.source AND sb.b = ref.b
       |         CROSS JOIN tot),
       |terms AS (SELECT source, ns,
       |            (coalesce(c, 0) + 1.0) / (ns + $DriftBuckets) AS ps,
       |            (cb + 1.0) / (nt + $DriftBuckets) AS pr
       |          FROM grid)
       |SELECT source, CAST(any_value(ns) AS BIGINT) AS n_tokens,
       |  round(CAST(sum(CAST(round((ps - pr) * ln(ps / pr) * 1e12)
       |                      AS BIGINT)) AS DOUBLE) / 1e12, 6) AS psi,
       |  round(CAST(sum(CAST(round((ps * ln(ps / ((ps + pr) / 2.0))
       |                             + pr * ln(pr / ((ps + pr) / 2.0)))
       |                            / 2.0 * 1e12) AS BIGINT)) AS DOUBLE)
       |        / 1e12, 6) AS js
       |FROM terms GROUP BY source ORDER BY source""".stripMargin

  // -------------------------------------------------------- filter_funnel
  /** Multi-stage filter funnel census — the per-stage survivor report a
    * C4/RefinedWeb-style pipeline publishes before committing a crawl
    * snapshot: language keep-list → length fences → lexical-diversity
    * (repetition) fence → bad-word blocklist, each stage applied to the
    * previous stage's survivors. All four predicates evaluate in ONE
    * map-side scan (no shuffle at all: the flags are Column exprs over
    * the token array), and the census is a single 1-row aggregate
    * unpivoted to (stage, docs_in, docs_out, dropped). */
  private def filterFunnel(s: SparkSession, dir: String): DataFrame = {
    val arr = tokArr
    val ntok = size(arr)
    val ndis = size(array_distinct(arr))
    val f1 = col("lang").isin(FunnelLangs: _*)
    val f2 = f1 && ntok.between(FunnelMinTok, FunnelMaxTok)
    val f3 = f2 &&
      (ndis.cast("double") / ntok.cast("double")) >= FunnelMinDistinct
    val f4 = f3 &&
      !arrays_overlap(arr, typedlit(FunnelBlocklist))
    val c = Tables.load(s, dir, "documents")
      .agg(count(lit(1)).as("n0"),
        sum(f1.cast("long")).as("n1"), sum(f2.cast("long")).as("n2"),
        sum(f3.cast("long")).as("n3"), sum(f4.cast("long")).as("n4"))
    c.selectExpr(
      """stack(4,
        |  1L, 'language', n0, n1,
        |  2L, 'length', n1, n2,
        |  3L, 'diversity', n2, n3,
        |  4L, 'blocklist', n3, n4) AS (stage, name, docs_in, docs_out)"""
        .stripMargin)
      .withColumn("dropped", col("docs_in") - col("docs_out"))
      .orderBy("stage")
  }

  private val filterFunnelSql = {
    val langs = FunnelLangs.map(l => s"'$l'").mkString(", ")
    val block = FunnelBlocklist.map(w => s"'$w'").mkString(", ")
    s"""WITH f AS (
       |  SELECT lang IN ($langs) AS f1,
       |    len(list_filter(string_split(text, ' '), x -> x != ''))
       |      AS ntok,
       |    len(list_distinct(list_filter(string_split(text, ' '),
       |                                  x -> x != ''))) AS ndis,
       |    len(list_intersect(list_filter(string_split(text, ' '),
       |                                   x -> x != ''),
       |                       [$block])) > 0 AS blocked
       |  FROM documents),
       |g AS (SELECT f1,
       |        f1 AND ntok BETWEEN $FunnelMinTok AND $FunnelMaxTok AS f2,
       |        f1 AND ntok BETWEEN $FunnelMinTok AND $FunnelMaxTok
       |          AND CAST(ndis AS DOUBLE) / ntok >= $FunnelMinDistinct
       |          AS f3,
       |        blocked
       |      FROM f),
       |c AS (SELECT count(*) AS n0,
       |        sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS n1,
       |        sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS n2,
       |        sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS n3,
       |        sum(CASE WHEN f3 AND NOT blocked THEN 1 ELSE 0 END) AS n4
       |      FROM g)
       |SELECT * FROM (
       |  SELECT CAST(1 AS BIGINT) AS stage, 'language' AS name,
       |    CAST(n0 AS BIGINT) AS docs_in, CAST(n1 AS BIGINT) AS docs_out,
       |    CAST(n0 - n1 AS BIGINT) AS dropped FROM c
       |  UNION ALL SELECT 2, 'length', CAST(n1 AS BIGINT),
       |    CAST(n2 AS BIGINT), CAST(n1 - n2 AS BIGINT) FROM c
       |  UNION ALL SELECT 3, 'diversity', CAST(n2 AS BIGINT),
       |    CAST(n3 AS BIGINT), CAST(n2 - n3 AS BIGINT) FROM c
       |  UNION ALL SELECT 4, 'blocklist', CAST(n3 AS BIGINT),
       |    CAST(n4 AS BIGINT), CAST(n3 - n4 AS BIGINT) FROM c)
       |ORDER BY stage""".stripMargin
  }

  override val qs: Seq[Q] = Seq(
    Q("quality_classifier", qualityClassifier, Some(qualityClassifierSql)),
    Q("token_drift", tokenDrift, Some(tokenDriftSql)),
    Q("filter_funnel", filterFunnel, Some(filterFunnelSql)))
}
