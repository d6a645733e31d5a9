package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftSessions, SparkSession}
import graft.profiler.{Profile, Profiler, ProfilerOptions}

/** Rolling profile over a Structured Streaming source — the engine's
  * answer to the reference's incremental `update_profile` loop
  * (profile_builder.py:939-998), but on a real streaming runtime.
  *
  * Usage:
  * {{{
  *   val sp = new StreamingProfiler()
  *   stream.writeStream.foreachBatch(sp.sink).start()
  *   ...
  *   val p: Option[Profile] = sp.current
  * }}}
  *
  * Each micro-batch is profiled with the same fused single-scan
  * aggregation as the batch path and merged into the running state via
  * the Profile merge algebra — the (init, update, merge) triple Spark's
  * own streaming aggregation would use, lifted to the whole profile.
  * Watermarking/windowing compose upstream of the sink: profile a
  * `window($"ts", ...)` aggregation's output, or filter the batch before
  * it reaches [[sink]].
  *
  * State is one Profile per profiler (bounded: capped category maps,
  * fixed-width histograms, 24-entry label votes) — no per-row state, so
  * arbitrarily long streams hold O(columns) memory.
  *
  * Session contract: micro-batches are profiled on the session that was
  * active (else the default one) when this profiler was constructed,
  * not on the stream's own session. A stream runs on a clone session
  * created anew at every `start()`, and each session has its own
  * executor class loader, which keys Spark's codegen cache — so
  * profiling on the clone recompiled every generated class of the
  * profile on every query. [[sink]] re-binds the batch's plan onto the
  * captured session without converting its rows. With no session
  * active at construction, the batch's own session is used.
  *
  * AQE note: a profile turns `spark.sql.adaptive.enabled` off for its
  * duration on the session it runs on (see [[Profiler.profile]]), so
  * while a micro-batch is being profiled that flip is visible on the
  * constructing session — exactly as during a batch `Profiler.profile`
  * call there. Queries run concurrently on that session should use their
  * own `newSession()`.
  */
final class StreamingProfiler(opts: ProfilerOptions = ProfilerOptions()) {

  @volatile private var state: Option[Profile] = None

  private val session: Option[SparkSession] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)

  /** foreachBatch-compatible sink. Batches are profiled sequentially
    * (foreachBatch serializes calls), so plain volatile state suffices.
    * An empty batch costs its pass-1 job only (the profiler runs no
    * later pass on zero rows) and leaves the state unchanged. */
  def sink: (DataFrame, Long) => Unit =
    session.fold(profileBatch)(GraftSessions.foreachBatchOn(_)(profileBatch))

  private val profileBatch: (DataFrame, Long) => Unit = (batch, _) => {
    val p = Profiler.profile(batch, opts)
    if (p.rowCount > 0) state = Some(state.fold(p)(_.merge(p)))
  }

  def current: Option[Profile] = state

  def reset(): Unit = state = None
}
