package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import graft.obs.JobCensus

/** Where a registered query's time goes (the Spark UI is off in this
  * suite, so this is its substitute). For each named query it prints
  * each job's wall time, stages, tasks and plan scope; the top stages by
  * wall time with their executor run time; and the wall time against
  * the job floor:
  *
  *   residual = wall − jobs × (median empty-job cost on this box)
  *
  * The empty-job cost is measured two ways — a 1-task no-op job (a pure
  * scheduler round trip) and a no-op exchange over every core (the
  * shape most composite jobs take) — so the residual is a bracket, not a
  * point estimate.
  *
  * Like Bench it first warms every query shape at sf0.001 (JIT and
  * codegen), then runs each query cold at the target SF under a
  * [[graft.obs.JobCensus]]. No names = the multi-job profiler composites.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.Probe [query ...]
  * (PROBE_SHOW=1 also prints each result's rows.)
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("profile_diff", "stream_profile", "profile_merge",
        "report_flat", "cat_topk", "graph_stats")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    names.foreach(n => require(all.contains(n), s"unknown query $n"))
    require(new java.io.File(warmDir).isDirectory, s"warm-up dir $warmDir " +
      "missing (an unwarmed run would time codegen compilation, not work)")
    val spark = GraftSession()
    val sc = spark.sparkContext

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    (1 to 5).foreach(_ => sc.parallelize(1 to 1, 1).count())
    val emptyTask = median((1 to 21).map(_ =>
      timed(sc.parallelize(1 to 1, 1).count())))
    val parts = sc.defaultParallelism
    val emptyShuffle = median((1 to 11).map(_ =>
      timed(spark.range(parts).repartition(parts).count())))
    println(f"[probe] empty 1-task job      $emptyTask%.4f s (median of 21)")
    println(f"[probe] empty $parts%d-part shuffle $emptyShuffle%.4f s (median of 11)")

    Tables.all.foreach(t => Tables.load(spark, dir, t).count())
    names.foreach { n =>
      try all(n)(spark, warmDir).count() catch { case _: Throwable => () }
    }
    for (name <- names) {
      spark.catalog.clearCache()
      val ((df, wall), census) = JobCensus.of(spark) {
        val t0 = System.nanoTime()
        val df = all(name)(spark, dir)
        df.count()
        (df, (System.nanoTime() - t0) / 1e9)
      }
      val base = census.jobs.headOption.map(_.startMs).getOrElse(0L)
      census.jobs.foreach { j =>
        println(f"[probe] $name job ${j.id}%4d start=${(j.startMs - base) / 1e3}%7.3f " +
          f"dur=${j.wallMs / 1e3}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d " +
          j.scope.take(90))
      }
      census.stages.sortBy(-_.wallMs).take(15).foreach { s =>
        println(f"[probe] $name stage ${s.id}%4d wall=${s.wallMs / 1e3}%6.2f s " +
          f"run=${s.runMs / 1e3}%7.2f s tasks=${s.tasks}%3d  ${s.scope.take(110)}")
      }
      val n = census.jobs.size
      val jobTime = census.jobs.map(_.wallMs max 0L).sum / 1e3
      println(f"[probe] $name TOTAL wall=$wall%7.3f s jobs=$n%4d " +
        f"job-time=$jobTime%7.3f s fixed=${n * emptyTask}%6.3f..${n * emptyShuffle}%6.3f s " +
        f"residual=${wall - n * emptyShuffle}%6.3f..${wall - n * emptyTask}%6.3f s")
      if (sys.env.get("PROBE_SHOW").contains("1")) df.show(50, false)
    }
    spark.stop()
  }
}
