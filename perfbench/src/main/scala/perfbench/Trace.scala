package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Times are epoch milliseconds; `parent` indexes the
  * enclosing span in the same trace (-1 for a root). */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int)

/** Counts jobs as they start. Registered on every run, traced or not,
  * so each op's job count can be compared across the ops of a run. */
final class JobCounter extends SparkListener {
  val jobs = new AtomicInteger()
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
}

/** The traced run's recorder. The benchmark opens spans around its own
  * calls into each layer ([[span]]); the listeners it registers on the
  * session add job and stage spans, task metrics, Catalyst phase times
  * and streaming progress. Everything stays in memory until the run
  * writes it out. Listener callbacks arrive on Spark's bus thread, so
  * the shared buffers are guarded by this object's lock. */
final class Tracer(spark: SparkSession) {
  // listener event times are epoch ms; the benchmark's own spans use the
  // same epoch, advanced by the monotonic clock for sub-ms resolution
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  @volatile var enabled = false

  /** Run `f` inside a span named `name`, recorded only while enabled. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = synchronized {
        val i = spans.length
        spans += Span(i, name, now, Double.NaN, open.headOption.getOrElse(-1))
        open = i :: open
        i
      }
      try f
      finally synchronized {
        spans(id) = spans(id).copy(end = now)
        open = open.tail
      }
    }

  // ---- engine-side records, filled by the listeners ----
  final case class JobRec(id: Int, start: Double, var end: Double)
  final case class StageRec(id: Int, job: Int, start: Double, end: Double)
  final case class TaskAgg(var tasks: Long = 0, var failed: Long = 0,
      var runMs: Double = 0, var cpuNs: Double = 0, var gcMs: Double = 0,
      var inputBytes: Double = 0, var shuffleRead: Double = 0,
      var shuffleWrite: Double = 0, var spill: Double = 0,
      var peakExecMem: Double = 0)

  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = TaskAgg()
  var catalystMs = 0.0
  val progress = ArrayBuffer.empty[Map[String, Long]]

  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        e.stageIds.foreach(stageJob(_) = e.jobId)
        jobs += JobRec(e.jobId, e.time.toDouble, Double.NaN)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime)
          stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1),
            s.toDouble, c.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        tasks.tasks += 1
        if (!e.taskInfo.successful) tasks.failed += 1
        Option(e.taskMetrics).foreach { m =>
          tasks.runMs += m.executorRunTime
          tasks.cpuNs += m.executorCpuTime
          tasks.gcMs += m.jvmGCTime
          tasks.inputBytes += m.inputMetrics.bytesRead
          tasks.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          tasks.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          tasks.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          tasks.peakExecMem =
            math.max(tasks.peakExecMem, m.peakExecutionMemory.toDouble)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values
        .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      Tracer.this.synchronized { catalystMs += ms }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      val m = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue)
        .toMap + ("numInputRows" -> e.progress.numInputRows)
      Tracer.this.synchronized { progress += m }
    }
  }

  /** Attach or detach the listeners; spans follow the same switch. */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    enabled = on
  }

  /** Benchmark spans plus job and stage spans. A job's parent is the
    * innermost benchmark span whose interval holds its start (there is
    * one client, so that span issued it, even when the library launched
    * the job from a future); a stage's parent is its job. */
  def fullTrace: Seq[Span] = synchronized {
    val own = spans.toList
    def innermost(t: Double): Int = own
      .filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)
    val jobBase = own.length
    val jobSpans = jobs.toList.zipWithIndex.map { case (j, i) =>
      Span(jobBase + i, s"job.${j.id}", j.start,
        if (j.end.isNaN) j.start else j.end, innermost(j.start))
    }
    val jobIdx = jobs.toList.zipWithIndex.map { case (j, i) =>
      j.id -> (jobBase + i) }.toMap
    val stageBase = jobBase + jobSpans.length
    val stageSpans = stages.toList.zipWithIndex.map { case (s, i) =>
      Span(stageBase + i, s"stage.${s.id}", s.start, s.end,
        jobIdx.getOrElse(s.job, -1))
    }
    own ++ jobSpans ++ stageSpans
  }

  /** One span per line, with its self time in ms. */
  def toJson(spans: Seq[Span]): String = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val self = Pure.selfTime(s.start, s.end,
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      s"""{"id": ${s.id}, "name": ${Pure.jsonString(s.name)}, """ +
        s""""start": ${Pure.jsonNumber(s.start)}, """ +
        s""""end": ${Pure.jsonNumber(s.end)}, "parent": ${s.parent}, """ +
        s""""self_ms": ${Pure.jsonNumber(self)}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
