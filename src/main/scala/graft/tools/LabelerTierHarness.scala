package graft.tools

import org.apache.spark.sql.functions._

/** Shared measurement harness for the per-label fixture-tier probes
  * (fresh tier, tier five, and every future rotation): clean-tier
  * train → production NbFallback ensemble predict → per-label accuracy
  * → residual census with chain/nb stage attribution. Extracting it
  * keeps the authored-blind methodology honest across rotations — only
  * the CELL GENERATOR is new per tier, so a harness fix (e.g. to the
  * census attribution heuristic) applies to every tier identically
  * instead of silently diverging between copied mains. */
object LabelerTierHarness {

  /** @param tag     log-line prefix (also names the tier in output)
    * @param status  one-line measurement-status note printed with the
    *                overall number (e.g. "measured ONCE, no fixes" for
    *                an authored-blind tier; "TUNED tier — regression
    *                pin" once its census has driven fixes)
    * @param cellFn  (label, i) → fixture cell, the only per-tier part */
  def run(tag: String, status: String,
      cellFn: (String, Int) => String, perLabel: Int = 96): Unit = {
    val spark = graft.GraftSession(cpus = 32)
    import spark.implicits._

    val labels = LabelerBench.EvalLabels
    val clean = labels.flatMap(l =>
      (0 until 200).map(i => (l, LabelerBench.cell(l, i))))
      .toDF("true_label", "cell")
    val tier = labels.flatMap(l =>
      (0 until perLabel).map(i => (l, cellFn(l, i))))
      .toDF("true_label", "cell")
      .withColumn("id", monotonically_increasing_id()).cache()

    val model = graft.labelers.DataLabeler.NbFallback.train(
      clean.select(col("true_label").as("label"), col("cell")))
    val pred = model.label(tier.select("id", "cell"), "cell")
    val stage1 = tier.select(col("id"),
      graft.labelers.FastLabelTwoStage(trim(col("cell"))).as("stage1"))
    val j = tier.join(pred, Seq("id")).join(stage1, Seq("id")).cache()

    val overall = j.filter(col("true_label") === col("pred")).count().toDouble /
      j.count()
    println(f"[$tag] overall accuracy: $overall%.3f " +
      s"(${labels.size} labels x $perLabel cells; $status)")
    j.groupBy("true_label").agg(
      avg(when(col("true_label") === col("pred"), 1.0).otherwise(0.0)).as("acc"))
      .orderBy("acc").collect()
      .foreach(r => println(f"[$tag]   ${r.getString(0)}%-16s ${r.getDouble(1)}%.3f"))
    println(s"[$tag] residual census (true -> pred [stage], count, exemplar):")
    j.filter(col("true_label") =!= col("pred"))
      .select("true_label", "pred", "cell", "stage1").collect()
      .groupBy(r => (r.getString(0), r.getString(1),
        if (r.getString(3) == r.getString(1)) "chain" else "nb"))
      .toSeq.sortBy(-_._2.length)
      .foreach { case ((t, p, via), rs) =>
        println(f"[$tag]   $t%-16s -> $p%-16s [$via%-5s] x${rs.length}%-3d " +
          s"e.g. '${rs.head.getString(2)}'")
      }
    j.unpersist(); tier.unpersist()
    spark.stop()
  }
}
