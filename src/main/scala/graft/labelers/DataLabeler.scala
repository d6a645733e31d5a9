package graft.labelers

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The labeler PIPELINE boundary (reference DataLabeler factory,
  * base_data_labeler.py:23-449: preprocessor → model → postprocessor),
  * so the regex model is one plug among possible others (a broadcast
  * ONNX char-CNN scoring inside `mapPartitions` would implement
  * [[LabelModel]] without touching callers).
  *
  * All three stages stay in the Column algebra where possible: the
  * preprocessor and the regex model are codegen'd expressions; only the
  * vote decision is driver math over the (columns × 24) vote table.
  */
object DataLabeler {

  /** One-time flag for the checkpoint-durability downgrade warning in
    * `label()` — warn once per JVM, not once per call. */
  private[labelers] val warnedLocalDowngrade =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Cell normalization before the model sees it. */
  trait CellPreprocessor extends Serializable {
    def prepare(c: Column): Column
  }

  /** Cell → label column (null in, null out; UNKNOWN for no match). */
  trait LabelModel extends Serializable {
    def label(c: Column): Column
  }

  /** Vote table → final column label. */
  trait VotePostprocessor extends Serializable {
    def decide(votes: Map[String, Long]): String
  }

  object TrimPreprocessor extends CellPreprocessor {
    def prepare(c: Column): Column = trim(c)
  }

  object RegexModel extends LabelModel {
    def label(c: Column): Column = RegexLabeler.labelOf(c)
  }

  /** Two-stage structured model: the anchored whole-cell chain, with the
    * token-window scan fallback when (only when) the chain says UNKNOWN.
    * Identical to [[RegexModel]] on every cell the chain labels — so the
    * clean-corpus vote tables are unchanged — while prose-embedded and
    * punctuation-noised entities recover through the scan
    * (LABELER_ACCURACY.md's adversarial table quantifies the gap this
    * closes). */
  object TwoStageModel extends LabelModel {
    def label(c: Column): Column = FastLabelTwoStage(c)
  }

  object ThresholdVote extends VotePostprocessor {
    def decide(votes: Map[String, Long]): String = RegexLabeler.decide(votes)
  }

  final class Pipeline(
      pre: CellPreprocessor, model: LabelModel, post: VotePostprocessor)
      extends Serializable {

    /** Label every cell of `colName` and return the vote table. */
    def votes(df: DataFrame, colName: String): Map[String, Long] =
      df.select(model.label(pre.prepare(col(colName))).as("label"))
        .filter(col("label").isNotNull)
        .groupBy("label").agg(count(lit(1)).as("c"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

    def labelColumn(df: DataFrame, colName: String): String =
      post.decide(votes(df, colName))
  }

  /** The structured default: trim → two-stage 24-label model (whole-cell
    * chain, scan fallback on UNKNOWN) → 0.35/0.2 threshold vote (what
    * the profiler's label pass applies). [[RegexModel]] remains the
    * pure-chain plug for callers that want the reference's anchored
    * behavior only. */
  val structuredDefault: Pipeline =
    new Pipeline(TrimPreprocessor, TwoStageModel, ThresholdVote)

  /** Shape-NB fallback ensemble (r13): the two-stage structured model,
    * with a shape-normalized [[NgramBayes]] vote where — and ONLY
    * where — the two-stage answer is UNKNOWN, so no chain- or
    * scan-labeled cell can change. This is the trained-model slot the
    * reference fills with its char-CNN, measured on the same harness
    * (LabelerBench adversarial tiers): overall 0.867 → 0.940, unseen
    * formats 0.796 → 0.889, embedded-in-prose 0.885 → 0.978, noise
    * 0.921 → 0.953, clean tier unchanged at 0.995. The ungated
    * fallback dominated every margin-gated variant measured
    * (graft.tools.LabelerEnsembleProbe).
    *
    * DataFrame-level (unlike [[LabelModel]]'s Column contract) because
    * the NB is a trained broadcast model scored by joins; the NB only
    * ever scores the UNKNOWN residue, so at corpus scale the ensemble
    * costs the two-stage scan plus a model join over the cells the
    * scan could not name. */
  final class NbFallback(model: NgramBayes.Model,
      stageOne: LabelModel = TwoStageModel) extends Serializable {

    /** Label `cellCol` of a frame carrying a unique `id` column →
      * (id, pred). `stageOne` defaults to the two-stage structured
      * model; `labeler_nb_fallback` gates the composition under the
      * DuckDB oracle with the SQL-restatable chain ([[RegexModel]]) in
      * the slot.
      *
      * Column contract: `df` must carry `id`; the names `two`, `pred`
      * and `__cell` are RESERVED for the ensemble's internal frames
      * (enforced below — a caller column with one of those names could
      * make the stage-two join ambiguous). The returned frame is
      * eagerly materialized (localCheckpoint) so the stage-one cache
      * can be released before returning: repeated `label()` calls in a
      * long-lived session leave no cached partitions registered
      * (LabelerSpec pins this via the session CacheManager; the
      * checkpoint blocks themselves are executor-local and reclaimed by
      * the ContextCleaner once the returned frame is unreferenced).
      * Known localCheckpoint trade-off: the returned frame's lineage is
      * truncated to those non-replicated blocks, so on a cluster losing
      * an executor that held them makes the frame unrecomputable. The
      * switch is the session's checkpoint dir PLUS checkpoint cleaning:
      * when `sparkContext.setCheckpointDir` has been called AND
      * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (the
      * cluster deployment posture), label() uses reliable eager
      * `checkpoint()` — durable blocks that survive executor loss, and
      * the cleaner reclaims the checkpoint dir once the frame is
      * unreferenced, matching localCheckpoint's lifecycle. Without the
      * cleaning conf a reliable checkpoint would LEAK one (id, pred)
      * materialization per call on durable storage (Spark never deletes
      * ReliableCheckpoint dirs by default), so label() then stays
      * executor-local. */
    def label(df: DataFrame, cellCol: String): DataFrame = {
      val reserved = Seq("two", "pred", "__cell")
      require(df.columns.contains("id"),
        s"label() needs a unique `id` column (got ${df.columns.toSeq})")
      require(!reserved.exists(df.columns.contains),
        s"columns $reserved are reserved by NbFallback.label " +
          s"(got ${df.columns.toSeq})")
      // .cache(): `two` is consumed by the final join AND (through the
      // residue) twice inside NgramBayes.predictJoin — without the cache
      // the stage-one labeling scan (the expensive part) would run 3×
      // and the "one scan + a model join over the residue" cost claim
      // would be false
      val two = df.select(col("id"),
        stageOne.label(TrimPreprocessor.prepare(col(cellCol)))
          .as("two"),
        col(cellCol).as("__cell"))
        .cache()
      try {
        val residue = two.filter(col("two") === "UNKNOWN")
          .select(col("id"), NgramBayes.shapeNormalize(col("__cell")).as("cell"))
        val nb = NgramBayes.predict(residue, model)
        // eager localCheckpoint: materializes the (id, pred) blocks NOW,
        // so the finally-unpersist cannot re-trigger the stage-one scan
        // in a downstream action — the cache's lifetime is exactly this
        // call, not the session
        // vocabulary-consistency gate (RegexLabeler.nbGuards, r15): an NB
        // vote may only land on a label whose containment-necessary
        // condition the cell satisfies — an EMAIL vote with no '@', or a
        // HASH_OR_KEY vote on a sub-32-char cell, is demoted to UNKNOWN.
        // Containment/lower-bound tests only, so prose-embedded entities
        // (the fallback's main recovery class) are never vetoed; the
        // labeler_nb_fallback oracle restates the gate via nbGateSql.
        val rawCell = TrimPreprocessor.prepare(col("__cell"))
        val gatedNb = RegexLabeler.nbGuards.foldLeft(col("pred")) {
          case (acc, (l, (g, _))) =>
            when(col("pred") === l && !g(rawCell), lit("UNKNOWN"))
              .otherwise(acc)
        }
        val out = two.join(nb, Seq("id"), "left")
          .select(col("id"),
            when(col("two") =!= "UNKNOWN", col("two"))
              .otherwise(coalesce(gatedNb, lit("UNKNOWN"))).as("pred"))
        // reliable checkpoint when the session has a checkpoint dir AND
        // checkpoint cleaning is on (cluster posture: blocks survive
        // executor loss). The cleaning condition matters: unlike
        // localCheckpoint blocks (always reclaimed by the ContextCleaner
        // once the frame is unreferenced), ReliableCheckpoint dirs are
        // only deleted when
        // spark.cleaner.referenceTracking.cleanCheckpoints=true (Spark
        // default FALSE) — without it every label() call would leak one
        // full (id, pred) materialization on durable storage for the
        // session's lifetime, so we refuse to trade a durability win for
        // an unbounded storage leak and fall back to executor-local
        // blocks (see the scaladoc trade-off note).
        val sc = df.sparkSession.sparkContext
        val cleanOn = sc.getConf
          .getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints",
            defaultValue = false)
        if (sc.getCheckpointDir.isDefined && cleanOn) out.checkpoint()
        else {
          // the downgrade must not be silent: a cluster that set a
          // checkpoint dir expected executor-loss durability, and the
          // conf that restores it is not discoverable from the symptom
          if (sc.getCheckpointDir.isDefined &&
              DataLabeler.warnedLocalDowngrade.compareAndSet(false, true))
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              "checkpoint dir is set but " +
                "spark.cleaner.referenceTracking.cleanCheckpoints=false: " +
                "label() falls back to localCheckpoint (blocks lost on " +
                "executor failure) rather than leak one durable (id, " +
                "pred) materialization per call; set the conf to true " +
                "to restore reliable checkpoints")
          out.localCheckpoint()
        }
      } finally two.unpersist()
    }
  }

  object NbFallback {
    /** Production gram lengths for the fallback NB: the 2∪3∪4∪5 union
      * measured best on the adversarial harness (r14
      * LabelerEnsembleProbe sweep over {3}, {5}, {3,5}, {2,3}, {2,3,5},
      * {2,3,4}, {3,4}, {2,4}, {4}, {2,3,4,5}): overall 0.940 → 0.946,
      * unseen-format 0.889 → 0.913, embedded 0.978 → 0.974, noise and
      * the clean-tier guard unchanged (0.953 / 0.995). Longer grams see
      * more structure per match, shorter ones keep support where
      * formats drift — the union gets both. */
    val FallbackGrams: Seq[Int] = Seq(2, 3, 4, 5)

    /** Train the fallback NB on a (label, cell) frame of labeled
      * exemplars — shape normalization is applied here and at predict
      * time by the same [[NgramBayes.shapeNormalize]]. */
    def train(labeled: DataFrame): NbFallback =
      new NbFallback(NgramBayes.fit(labeled.select(col("label"),
        NgramBayes.shapeNormalize(col("cell")).as("cell")), FallbackGrams))
  }
}
