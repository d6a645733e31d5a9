package graft.labelers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trainable character-n-gram multinomial Naive Bayes — the Spark-first
  * stand-in for the reference's char-CNN model slot in the labeler
  * pipeline (CharLoadTFModel, labelers/character_level_cnn_model.py:
  * 28-644): same contract (train on labeled cells, score unseen cells
  * into the label vocabulary), deliberately different model family — a
  * CNN would need a tensor runtime the JVM container doesn't ship, and
  * NB over hashed char n-grams is the classic strong baseline for
  * short-string entity typing. Documented deviation, same plug point
  * ([[DataLabeler.LabelModel]] via [[NgramBayes.asModel]]).
  *
  * Everything corpus-sized is DataFrame algebra, so fit and predict
  * both scale:
  *  - fit = ONE explode + (label, gram) groupBy (a null-gram sentinel
  *    row per cell folds the per-label doc counts into the same
  *    combine) — partial-aggregated, bounded by the gram universe;
  *    priors/log-likelihoods are driver math on that collected model;
  *  - predict = map-side gram explode + broadcast LEFT hash join
  *    against the model (the model is labels×grams, megabytes even for
  *    huge corpora), then ONE groupBy(id) whose per-label (msum, mcnt)
  *    conditional aggregates replace both the (id, label) grouping and
  *    the base/matched join of earlier rounds; scores re-explode
  *    map-side and the argmax min_by rides the same id partitioning —
  *    one exchange end to end.
  *
  * Determinism contract (what makes this ORACLE-comparable across
  * engines, which scipy/TF never was): log-probs round to 6 dp at fit
  * time, scores to 4 dp at predict time, argmax ties break by label
  * name — so DuckDB reproduces the confusion matrix bit-for-bit from
  * the same training frame.
  */
object NgramBayes {

  val N = 3

  /** Char n-grams of a cell — one codegen'd byte-scan pass
    * (functions/CharGrams.scala; empty array below length N), replacing
    * the interpreted `transform(sequence, i -> substr(c, i, N))` chain
    * whose per-position codepoint addressing rescanned the cell from
    * byte 0 on every gram. Output is codepoint-identical, so the DuckDB
    * twins (which keep the substr form) still hash-match. */
  def grams(c: Column): Column = grams(c, Seq(N))

  /** Gram-length-parameterized variant: the concatenation of char
    * n-grams for each length in `ns` (a single length is the plain
    * array). The default every oracle query uses is `Seq(N)`; the
    * r14 unseen-tier probe measures 5-gram and 3∪5 models through the
    * same fit/score algebra ([[graft.tools.LabelerEnsembleProbe]]). */
  def grams(c: Column, ns: Seq[Int]): Column = {
    require(ns.nonEmpty, "gram-length list must be non-empty")
    ns.map(n => graft.functions.CharGrams(c, n): Column).reduce(concat(_, _))
  }

  /** Fitted model: per-(label, gram) smoothed log-likelihoods plus
    * per-label prior / unseen-gram penalty. Both frames are small
    * (bounded by |labels| × gram universe) and broadcast at predict; the
    * same rows ride along driver-side (`statsLocal` label-sorted,
    * `logpLocal` keyed (label, gram)) so small models can score as pure
    * Column algebra without any join. */
  final case class Model(gramLogp: DataFrame, labelStats: DataFrame,
      statsLocal: Seq[(String, (Double, Double))],
      logpLocal: Map[(String, String), Double],
      ns: Seq[Int] = Seq(N))

  /** Fit from (label, cell) rows. Laplace (+1) smoothing over the
    * training vocabulary V. */
  def fit(train: DataFrame): Model = fit(train, Seq(N))

  /** [[fit]] with explicit gram lengths (see [[grams]]). */
  def fit(train: DataFrame, ns: Seq[Int]): Model = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = train.sparkSession
    // The ONLY corpus-sized work is the explode + (label, gram) combine —
    // one partial-aggregated shuffle, collected because the result is the
    // bounded model itself (|labels| × gram universe, the same megabytes
    // predict broadcasts). Totals, V, priors, and log-likelihoods are
    // arithmetic ON that collected model, so they run driver-side: doing
    // them as DataFrame algebra re-ran the fit subplans as ~20 separate
    // AQE exchange jobs whose fixed cost dwarfed the math. ONE job now:
    // each cell also explodes a null-gram sentinel row, so the same
    // (label, gram) combine yields the per-label doc counts (gram IS
    // NULL) alongside the gram counts — no second scan of `train`.
    val rows = train
      .select(col("label"), explode(concat(grams(col("cell"), ns),
        array(lit(null).cast("string")))).as("gram"))
      .groupBy("label", "gram").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val counts = rows.filter(_._2 != null)
    val ldocs = rows.filter(_._2 == null).map { case (l, _, c) => (l, c) }
    val totals = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val v = counts.iterator.map(_._2).toSet.size.toDouble
    val ntr = ldocs.map(_._2).sum.toDouble
    // single definition of the rounding-parity contract
    def r6(x: Double) = graft.functions.roundHalfUp(x, 6)
    val logpRows = counts.map { case (l, g, c) =>
      Row(l, g, r6(math.log((c + 1.0) / (totals(l) + v))))
    }
    // a label whose every training cell is shorter than N contributes no
    // grams; drop it from the model (the join formulation this replaced
    // did so implicitly) rather than crash on totals(l)
    val statRows = ldocs.filter { case (l, _) => totals.contains(l) }
      .map { case (l, nd) =>
        Row(l, r6(math.log(nd / ntr)), r6(math.log(1.0 / (totals(l) + v))))
      }
    val logpSchema = StructType(Seq(
      StructField("label", StringType), StructField("gram", StringType),
      StructField("logp", DoubleType)))
    val statSchema = StructType(Seq(
      StructField("label", StringType), StructField("logprior", DoubleType),
      StructField("unseen", DoubleType)))
    Model(
      spark.createDataFrame(
        java.util.Arrays.asList(logpRows: _*), logpSchema),
      spark.createDataFrame(
        java.util.Arrays.asList(statRows: _*), statSchema),
      statRows.map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2))))
        .sortBy(_._1).toSeq,
      logpRows.map(r => ((r.getString(0), r.getString(1)), r.getDouble(2)))
        .toMap,
      ns)
  }

  /** Predict over (id, cell) rows → (id, pred), argmax (score desc,
    * label asc) with scores rounded to 4 dp first: gram explode +
    * broadcast model join + per-id `min_by` argmax combine on the
    * scoring exchange.
    *
    * A literal-map Column route (score via [[scoreColumn]], no joins)
    * was MEASURED SLOWER here and reverted: Spark evaluates
    * `element_at` on a literal map by LINEAR SCAN of its
    * ArrayBasedMapData, so per-cell scoring is O(ng × |model|) — the NB
    * trio went 4.7 s → 7.4 s at sf0.1. The join route's hash lookup is
    * the right complexity once models reach thousands of grams;
    * [[asModel]] keeps the Column form for the labeler pipeline's
    * bounded-vocabulary plug point. */
  def predict(docs: DataFrame, model: Model): DataFrame =
    predictJoin(docs, model)

  private[graft] def predictJoin(docs: DataFrame, model: Model): DataFrame =
    scoredJoin(docs, model)
      .groupBy("id")
      .agg(min_by(col("label"), struct(-col("score"), col("label")))
        .as("pred"))

  /** SHAPE normalization for entity cells (digits → 9, lowercased,
    * ^…$ anchored): entity labels are defined by digit STRUCTURE, not
    * digit values — raw grams memorize values ("123" vs "456"), shaped
    * grams learn the structure ("999-99-9999"). Train and predict must
    * use the same transform; this is the single definition
    * ([[graft.labelers.DataLabeler.NbFallback]], LabelerBench). */
  def shapeNormalize(c: Column): Column =
    concat(lit("^"), translate(lower(c), "0123456789", "9999999999"),
      lit("$"))

  /** The per-(id, label) score frame behind [[predict]] — exposed so
    * callers that need more than the argmax (margin-gated ensembles,
    * top-k diagnostics) reuse the same scoring algebra verbatim. Two
    * physical forms with identical algebra and rounding (so the DuckDB
    * twins reproduce the argmax bit-for-bit either way), chosen by the
    * model's measured gram fan-out — see the regime note in the body. */
  private[graft] def scoredJoin(docs: DataFrame, model: Model): DataFrame = {
    if (model.statsLocal.isEmpty)
      return docs.select(col("id"), lit(null).cast("string").as("label"),
        lit(null).cast("double").as("score")).limit(0)
    // Form choice by MODEL SHAPE, measured driver-side from the bounded
    // model itself: the conditional one-exchange form pays 2×|labels|
    // when-branches on every joined row, and the joined row count is
    // grams × fanout (fanout = average labels containing a gram). For
    // the entity NBs (shape-normalized, label-specific grams; fanout
    // ~1-3, ≤19 labels) that product is small and the saved exchanges
    // dominate. A language-ID model is the opposite regime — common
    // character grams occur in MOST of the 24 language tables, so
    // fanout ≈ |labels| and the branch bill is |labels|² per input
    // gram: measured 2× WORSE end-to-end (langid_nb sf0.1 1.31 →
    // 2.61 s) before this gate routed it back to the shuffled form.
    if (conditionalForm(model)) scoredJoinConditional(docs, model)
    else scoredJoinShuffled(docs, model)
  }

  /** The [[scoredJoin]] form gate as a pure model predicate, exposed so
    * specs can PIN which physical form a given trained model routes
    * through (NgramBayesSpec pins the label_agreement/labeler_nb entity
    * model on the conditional one-exchange side and the langid regime
    * on the shuffled side). */
  private[graft] def conditionalForm(model: Model): Boolean = {
    val nGrams = model.logpLocal.keysIterator.map(_._2).toSet.size
    val fanout =
      if (nGrams == 0) 1.0 else model.logpLocal.size.toDouble / nGrams
    model.statsLocal.size * fanout <= 64.0
  }

  /** ONE-EXCHANGE form (see [[scoredJoin]]'s regime note): ng rides the
    * explode, the model joins LEFT (null-gram sentinel keeps zero-gram
    * cells), per-label (msum, mcnt) land as conditional aggregates of a
    * single groupBy(id), and the (id, label, score) shape re-explodes
    * map-side — preserving the id partitioning so [[predictJoin]]'s
    * argmax adds no exchange. */
  private def scoredJoinConditional(docs: DataFrame, model: Model): DataFrame = {
    // stage the gram array under its own alias: it is referenced three
    // times below (ng, the sentinel guard, the generator), and the
    // gram-scan expression is exactly what CollapseProject refuses to
    // re-inline for a non-cheap multiply-referenced alias — so the cell
    // is scanned ONCE per row, not three times (Generate codegen does
    // not share subexpressions with the projection beneath it)
    val staged = docs.select(col("id"),
      grams(col("cell"), model.ns).as("__g"))
    val dg = staged.select(col("id"),
      size(col("__g")).cast("long").as("ng"),
      explode(when(size(col("__g")) > 0, col("__g"))
        .otherwise(array(lit(null).cast("string")))).as("gram"))
    val labeled = dg.join(broadcast(model.gramLogp), Seq("gram"), "left")
    val aggs = model.statsLocal.zipWithIndex.flatMap { case ((l, _), i) =>
      Seq(sum(when(col("label") === l, col("logp"))).as(s"__msum_$i"),
        count(when(col("label") === l, lit(1))).as(s"__mcnt_$i"))
    }
    val allAggs = max(col("ng")).as("__ng") +: aggs
    val perId = labeled.groupBy("id").agg(allAggs.head, allAggs.tail: _*)
    val kvs = model.statsLocal.zipWithIndex.map {
      case ((l, (logprior, unseen)), i) =>
        struct(lit(l).as("label"),
          round(lit(logprior) + coalesce(col(s"__msum_$i"), lit(0.0)) +
            (col("__ng") - col(s"__mcnt_$i")) * lit(unseen), 4)
            .as("score"))
    }
    perId.select(col("id"), explode(array(kvs: _*)).as("__kv"))
      .select(col("id"), col("__kv.label"), col("__kv.score"))
  }

  /** (id, label)-grouped form for high-fanout models: per joined row the
    * aggregation is one O(1) hash update instead of 2×|labels| branches;
    * costs the (id, label) exchange plus the base-frame join the
    * conditional form avoids. */
  private def scoredJoinShuffled(docs: DataFrame, model: Model): DataFrame = {
    val dg = docs.select(col("id"),
      explode(grams(col("cell"), model.ns)).as("gram"))
    val matched = dg
      .join(broadcast(model.gramLogp), Seq("gram"))
      .groupBy("id", "label")
      .agg(sum("logp").as("msum"), count(lit(1)).as("mcnt"))
    val base = docs
      .select(col("id"),
        size(grams(col("cell"), model.ns)).cast("long").as("ng"))
      .crossJoin(broadcast(model.labelStats))
    base
      .join(matched, Seq("id", "label"), "left")
      .select(col("id"), col("label"),
        round(col("logprior") + coalesce(col("msum"), lit(0.0)) +
          (col("ng") - coalesce(col("mcnt"), lit(0L))) * col("unseen"), 4)
          .as("score"))
  }

  /** DuckDB twin of fit → predict → confusion-matrix for arbitrary
    * train/test frames: `trainSql` must yield (label, cell), `testSql`
    * (id, true_label, cell). Mirrors [[fit]]/[[predict]] stage for stage
    * under the same rounding contract (6 dp log-probs, 4 dp scores,
    * label-asc tie-break), so any NB query oracle can be generated from
    * its two input SELECTs. */
  def confusionSql(trainSql: String, testSql: String): String =
    confusionSql(trainSql, testSql, Seq(N))

  /** [[confusionSql]] for a gram-length union model (see [[grams]]):
    * the gram list is the concatenation of each length's substr
    * transform and `ng` the sum of the per-length counts — the same
    * multiset the Spark side explodes, so the 6/4-dp rounding contract
    * carries over unchanged. */
  /** `nbGate`: optional (labelExpr, rawExpr) → gated-label CASE (see
    * [[RegexLabeler.nbGateSql]]); when set, `testSql` must also expose a
    * `raw` column (the pre-shape cell) for the gate to inspect — the SQL
    * twin of the vote gate NbFallback applies after prediction. */
  def confusionSql(trainSql: String, testSql: String,
      ns: Seq[Int],
      nbGate: Option[(String, String) => String] = None): String = {
    require(ns.nonEmpty, "gram-length list must be non-empty")
    def gramsN(c: String, n: Int) =
      s"CASE WHEN length($c) >= $n THEN list_transform(" +
        s"generate_series(1, length($c)-${n - 1}), i -> substr($c, i, $n)) " +
        s"ELSE CAST([] AS VARCHAR[]) END"
    def grams(c: String) =
      ns.map(gramsN(c, _)).reduce((a, b) => s"list_concat($a, $b)")
    val ngSum = ns.map(n =>
      s"CASE WHEN length(cell) >= $n THEN length(cell) - ${n - 1} " +
        "ELSE 0 END").mkString(" + ")
    s"""WITH train AS MATERIALIZED ($trainSql),
       |test AS MATERIALIZED ($testSql),
       |tg AS MATERIALIZED (
       |  SELECT label, unnest(${grams("cell")}) AS gram FROM train),
       |counts AS (SELECT label, gram, count(*) AS c FROM tg GROUP BY 1, 2),
       |totals AS MATERIALIZED (SELECT label, count(*) AS tot FROM tg GROUP BY 1),
       |v AS MATERIALIZED (SELECT count(DISTINCT gram) AS v FROM tg),
       |ldocs AS (SELECT label, count(*) AS nd FROM train GROUP BY 1),
       |ntr AS (SELECT count(*) AS n FROM train),
       |model AS (SELECT c.label, c.gram,
       |            round(ln((c + 1.0) / (tot + v)), 6) AS logp
       |          FROM counts c JOIN totals USING (label), v),
       |lstats AS (SELECT l.label, round(ln(nd * 1.0 / n), 6) AS logprior,
       |             round(ln(1.0 / (tot + v)), 6) AS unseen
       |           FROM ldocs l JOIN totals USING (label), v, ntr),
       |dg AS (SELECT id, unnest(${grams("cell")}) AS gram FROM test),
       |matched AS (SELECT id, m.label, sum(logp) AS msum, count(*) AS mcnt
       |            FROM dg JOIN model m USING (gram) GROUP BY 1, 2),
       |base AS (SELECT t.id, t.true_label,
       |           $ngSum AS ng,
       |           l.label, l.logprior, l.unseen
       |         FROM test t, lstats l),
       |scored AS (SELECT id, true_label, label,
       |             round(logprior + coalesce(msum, 0) +
       |                   (ng - coalesce(mcnt, 0)) * unseen, 4) AS score
       |           FROM base LEFT JOIN matched USING (id, label)),
       |pred AS (SELECT *, row_number() OVER (
       |           PARTITION BY id ORDER BY score DESC, label) AS rk
       |         FROM scored)
       |${nbGate match {
          case None =>
            """SELECT true_label, label AS pred_label, count(*) AS n
              |FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2"""
              .stripMargin
          case Some(g) =>
            s"""SELECT true_label, ${g("label", "raw")} AS pred_label,
              |  count(*) AS n
              |FROM (SELECT p.true_label, p.label, p.rk, t.raw
              |      FROM pred p JOIN test t USING (id)) pr
              |WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
        }}""".stripMargin
  }

  /** Literal-map Column scoring: cell → argmax label, the expression
    * behind both [[asModel]] and the small-model [[predict]] route. */
  private def scoreColumn(m: Model): Column => Column = { c =>
    val g = grams(c, m.ns)
    val scores = m.statsLocal.zipWithIndex.map {
      case ((l, (prior, unseen)), i) =>
        val perLabel = m.logpLocal.collect {
          case ((`l`, gram), lp) => gram -> lp
        }
        // Σ logp over grams via aggregate(); unseen grams pay the penalty
        val gramMap = map(perLabel.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
        val s = aggregate(g, lit(0.0),
          (acc, x) => acc + coalesce(element_at(gramMap, x), lit(unseen)))
        // (-i) as the tiebreak field: struct max compares fields in
        // order, so equal scores resolve to the LOWEST index — the
        // label-ascending tie-break the join route's min_by uses
        struct(round(s + lit(prior), 4).as("score"),
          lit(-i).as("nk"), lit(l).as("l"))
    }
    array_max(array(scores: _*)).getField("l")
  }

  /** Plug a fitted model into the labeler pipeline: scores cells as pure
    * Column algebra against the model's literal maps — the same
    * broadcast-scoring shape a loaded CNN would use, without leaving
    * codegen. Intended for models with bounded gram universes (the fit
    * caller controls that). */
  def asModel(m: Model): DataLabeler.LabelModel = {
    val f = scoreColumn(m)
    new DataLabeler.LabelModel { def label(c: Column): Column = f(c) }
  }
}
