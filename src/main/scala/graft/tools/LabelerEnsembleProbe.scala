package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.labelers.NgramBayes

/** Experiment harness for the round-13 labeler ask: does SHAPE-NB
  * fallback voting lift the adversarial tiers (esp. unseen-format,
  * 0.796 after r12's canonicalize-rematch) without regressing the clean
  * tier (0.995)?
  *
  * Candidate ensembles, all strictly "two-stage first" (the NB may only
  * fire where the production default answered UNKNOWN, so no
  * chain-labeled cell can regress):
  *   A. two-stage, else NB            (unconditional fallback)
  *   B. two-stage, else NB if margin ≥ τ (top1−top2 score gap gate)
  * Reported per tier (clean / noise / unseen / embedded) for τ ∈
  * {0 (=A), 2, 5, 10, 20}.
  *
  * Usage: runMain graft.tools.LabelerEnsembleProbe
  */
object LabelerEnsembleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(cpus = 32)
    import spark.implicits._

    // the one shape definition (train must match NbFallback's predict)
    def shape(c: Column) = NgramBayes.shapeNormalize(c)

    val PerLabel = 200
    val labels = LabelerBench.EvalLabels
    val clean = labels.flatMap(l =>
      (0 until PerLabel).map(i => (l, LabelerBench.cell(l, i))))
      .toDF("true_label", "cell")
      .withColumn("id", monotonically_increasing_id()).cache()
    val PerLabelAdv = 99
    val adv = labels.flatMap(l =>
      (0 until PerLabelAdv).map(i => (l, LabelerBench.advCell(l, i), i % 3)))
      .toDF("true_label", "cell", "tier")
      .withColumn("id", monotonically_increasing_id()).cache()

    // shaped NB trained on the full clean tier (same as LabelerBench 2c)
    val model = NgramBayes.fit(
      clean.select(col("true_label").as("label"), shape(col("cell")).as("cell")))

    /** (id, nb, margin): NB argmax + top1−top2 score gap, from the same
      * scoring algebra predict() uses. */
    def nbTop2(df: DataFrame, model: NgramBayes.Model = model): DataFrame = {
      val scored = NgramBayes.scoredJoin(
        df.select(col("id"), shape(col("cell")).as("cell")), model).cache()
      val top1 = scored.groupBy("id").agg(
        min_by(struct(col("label"), col("score")),
          struct(-col("score"), col("label"))).as("t1"))
        .select(col("id"), col("t1.label").as("nb"),
          col("t1.score").as("s1"))
      scored.join(top1, Seq("id"))
        .filter(col("label") =!= col("nb"))
        .groupBy("id").agg(max(col("score")).as("s2"))
        .join(top1, Seq("id"))
        .select(col("id"), col("nb"), (col("s1") - col("s2")).as("margin"))
    }

    def evalTiers(name: String, pred: DataFrame, fixture: DataFrame,
        tiers: Boolean): Unit = {
      val j = fixture.join(pred, Seq("id"))
      val overall = j.filter(col("true_label") === col("pred")).count().toDouble /
        j.count()
      if (!tiers) println(f"[ens] $name%-28s clean=$overall%.3f")
      else {
        val byTier = (0 until 3).map { t =>
          val s = j.filter(col("tier") === t)
          s.filter(col("true_label") === col("pred")).count().toDouble /
            s.count()
        }
        println(f"[ens] $name%-28s overall=$overall%.3f " +
          f"noise=${byTier(0)}%.3f unseen=${byTier(1)}%.3f " +
          f"embedded=${byTier(2)}%.3f")
      }
    }

    val twoCol = graft.labelers.FastLabelTwoStage(trim(col("cell")))
    val advTwo = adv.select(col("id"), twoCol.as("two")).cache()
    val cleanTwo = clean.select(col("id"), twoCol.as("two")).cache()
    val advNb = nbTop2(adv).cache()
    val cleanNb = nbTop2(clean).cache()

    evalTiers("two_stage (baseline)",
      advTwo.select(col("id"), col("two").as("pred")), adv, tiers = true)
    evalTiers("two_stage (baseline)",
      cleanTwo.select(col("id"), col("two").as("pred")), clean, tiers = false)

    for (tau <- Seq(0.0, 2.0, 5.0, 10.0, 20.0)) {
      def ens(two: DataFrame, nb: DataFrame) =
        two.join(nb, Seq("id"), "left")
          .select(col("id"),
            when(col("two") =!= "UNKNOWN", col("two"))
              .when(col("margin") >= tau, col("nb"))
              .otherwise(lit("UNKNOWN")).as("pred"))
      evalTiers(s"ensemble tau=$tau", ens(advTwo, advNb), adv, tiers = true)
      evalTiers(s"ensemble tau=$tau", ens(cleanTwo, cleanNb), clean,
        tiers = false)
    }

    // ---- r14: gram-length variants through the same algebra ----------
    // The r13 winner was the UNGATED 3-gram fallback; its unseen-tier
    // residual (0.889) was format variants whose 3-gram structure the
    // clean tier never exhibits. Longer grams see more structure per
    // match but need more training support — measured, not guessed:
    // the 2∪3∪4∪5 union won this sweep and is the production default
    // since r14 (DataLabeler.NbFallback.FallbackGrams).
    for (ns <- Seq(Seq(5), Seq(3, 5), Seq(2, 3), Seq(2, 3, 5), Seq(2, 3, 4),
        Seq(3, 4), Seq(2, 4), Seq(4), Seq(2, 3, 4, 5))) {
      val m = NgramBayes.fit(
        clean.select(col("true_label").as("label"),
          shape(col("cell")).as("cell")), ns)
      val advV = nbTop2(adv, m)
      val cleanV = nbTop2(clean, m)
      def ens(two: DataFrame, nb: DataFrame) =
        two.join(nb, Seq("id"), "left")
          .select(col("id"),
            when(col("two") =!= "UNKNOWN", col("two"))
              .otherwise(coalesce(col("nb"), lit("UNKNOWN"))).as("pred"))
      val tag = ns.mkString("+")
      evalTiers(s"ensemble grams=$tag", ens(advTwo, advV), adv, tiers = true)
      evalTiers(s"ensemble grams=$tag", ens(cleanTwo, cleanV), clean,
        tiers = false)
    }

    // ---- r14/r15: the unseen tier's residual errors, named ------------
    // (r15: attributed against the PRODUCTION configuration — the
    // 2∪3∪4∪5 union-gram NbFallback — not the r13 3-gram baseline)
    val prodModel = graft.labelers.DataLabeler.NbFallback.train(
      clean.select(col("true_label").as("label"), col("cell")))
    val prodEns = prodModel.label(adv.select("id", "cell"), "cell")
    val resid = adv.filter(col("tier") === 1)
      .join(prodEns, Seq("id"))
      .filter(col("true_label") =!= col("pred"))
      .select("true_label", "pred", "cell")
      .collect()
    println(s"[ens] unseen residual errors: ${resid.length}")
    resid.groupBy(r => (r.getString(0), r.getString(1)))
      .toSeq.sortBy(-_._2.length)
      .foreach { case ((t, p), rs) =>
        println(f"[ens]   $t%-16s -> $p%-16s x${rs.length}%-3d " +
          s"e.g. '${rs.head.getString(2)}'")
      }
    spark.stop()
  }
}
