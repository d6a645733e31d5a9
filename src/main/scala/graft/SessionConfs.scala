package graft

import org.apache.spark.sql.SparkSession

/** Scoped session-conf overrides. A query function that tunes a runtime
  * knob (aggregate fallback thresholds, shuffle partitions for stream
  * state stores) must NOT leak it into the caller's live session — the
  * next query inherits a setting sized for someone else's plan. The
  * contract: the override is visible only while `f` runs, so the body
  * must EXECUTE anything that reads the conf (runtime SQLConf reads
  * happen at action time, not at DataFrame definition — return a
  * localCheckpoint'd/collected result, not a lazy plan, when the knob
  * matters to execution).
  */
object SessionConfs {

  /** Run `f` with `key` set to `value`, then restore the prior value
    * (or unset, if the key was never set). The prior value comes from
    * the explicitly set entries (`conf.getAll`): for a registered SQL
    * conf `getOption` returns the default when the key is unset, and
    * restoring that would leave an explicit entry behind. */
  def withConf[T](s: SparkSession, key: String, value: String)(f: => T): T = {
    val prev = s.conf.getAll.get(key)
    s.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }
}
