package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSessions, SparkSession}

/** The Spark jobs and stages one body of work ran, in id order. */
final case class JobCensus(jobs: Seq[JobCensus.Job], stages: Seq[JobCensus.Stage])

/** Counts what a body of work runs on a session with one listener. The
  * listener bus is drained before the listener registers, so no earlier
  * work's events reach it, and again after the body, so every event of
  * the body's own jobs has. */
object JobCensus {

  /** One job: its start and end as the scheduler stamped them (epoch ms;
    * `endMs` is -1 for a job still running when the body returned), its
    * stages and their tasks, and the plan scope of its stages. */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Int,
      tasks: Int, scope: String) {
    def wallMs: Long = if (endMs < 0) -1L else endMs - startMs
  }

  /** One completed stage: wall time from submission to completion, the
    * executors' summed run time (ms), its tasks and its plan scope. */
  final case class Stage(id: Int, wallMs: Long, runMs: Long, tasks: Int,
      scope: String)

  /** The distinct RDD scope names of `stages` (the plan nodes: Exchange,
    * SortMergeJoin, HashAggregate, ...), else the first stage's call
    * site. Under AQE a stage's own name is a lambda call site, so the
    * scopes are what tell stages apart. */
  private def scopeOf(stages: Seq[StageInfo]): String = {
    val scopes = stages.flatMap(_.rddInfos).flatMap(_.scope).map(_.name).distinct
    if (scopes.nonEmpty) scopes.mkString(" ")
    else stages.headOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")
  }

  /** `body`'s result and the jobs and stages it ran on `spark`. */
  def of[T](spark: SparkSession)(body: => T): (T, JobCensus) = {
    val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for (s <- si.submissionTime; c <- si.completionTime)
          yield c - s).getOrElse(-1L)
        stages.add(Stage(si.stageId, wall, si.taskMetrics.executorRunTime,
          si.numTasks, scopeOf(Seq(si))))
      }
    }
    val sc = spark.sparkContext
    GraftSessions.drainListenerBus(spark)
    sc.addSparkListener(listener)
    val result = try {
      val r = body
      GraftSessions.drainListenerBus(spark)
      r
    } finally sc.removeSparkListener(listener)
    val jobs = starts.values.asScala.toSeq.map { s =>
      Job(s.jobId, s.time, ends.getOrDefault(s.jobId, -1L), s.stageInfos.size,
        s.stageInfos.map(_.numTasks).sum, scopeOf(s.stageInfos))
    }
    (result, JobCensus(jobs.sortBy(_.id), stages.asScala.toSeq.sortBy(_.id)))
  }
}
