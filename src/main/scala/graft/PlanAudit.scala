package graft

/** Prints `explain("formatted")` for selected queries so plan shape
  * (pushdown, pruning, broadcast, codegen spans) can be audited without a
  * notebook: `runMain graft.PlanAudit <sfDir> [name ...]` (no names =
  * the representative set below).
  *
  * Eager composites (whose registered function executes jobs and
  * returns a checkpointed frame) are audited through their declarative
  * plan twins: `graph_triangles` via GraphQueries.trianglesPlan,
  * `sim_pq_adc`/`sim_pq_rerank` via SimilarityQueries.pq*Plan, and the
  * stream_* queries via StreamingQueries.auditFrames (the exact
  * pre-sink streaming frames the production sinks start). SCALING.md's
  * per-operator shape claims cross-reference these sections.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val defaults = Seq(
      "q1_agg", "join_pricing", "sim_topk", "dedup_minhash",
      "labeler_votes", "multimodal_decode",
      // round-8 heavy family (lazily-planned members)
      "cdc_merge", "zorder_layout", "latest_snapshot", "funnel_stages",
      "rollup_stats", "ts_anomaly", "skew_stats",
      // round-9 storage-layout pair
      "partition_prune", "bucket_join",
      // eager composites via their plan twins
      "graph_triangles", "sim_pq_adc", "sim_pq_rerank", "stream_*")
    val names = if (args.length > 1) args.tail.toSeq else defaults
    val spark = GraftSession()
    def section(n: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n========== $n ==========")
      try df.explain("formatted")
      catch { case e: Throwable =>
        println(s"[audit] $n failed to plan: ${e.getMessage}")
      }
    }
    names.foreach {
      case "graph_triangles" =>
        section("graph_triangles (plan twin)")(
          operators.GraphQueries.trianglesPlan(spark, sfDir))
      case "sim_pq_adc" =>
        section("sim_pq_adc (plan twin)")(
          operators.SimilarityQueries.pqAdcPlan(spark, sfDir))
      case "sim_pq_rerank" =>
        section("sim_pq_rerank (plan twin)")(
          operators.SimilarityQueries.pqRerankPlan(spark, sfDir))
      case "stream_*" =>
        operators.StreamingQueries.auditFrames(spark, sfDir)
          .foreach { case (n, df) => section(s"$n (pre-sink stream)")(df) }
      case n =>
        section(n)(SparkEntry.queries(n)(spark, sfDir))
    }
    spark.stop()
  }
}
