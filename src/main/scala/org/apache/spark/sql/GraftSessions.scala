package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the private[sql] session and column hooks the library needs. */
object GraftSessions {

  /** `plan` as a DataFrame of `session` — how a frame built on one
    * session (a stream's per-query clone, say) is re-bound onto another
    * without converting its rows (`classic.Dataset.ofRows` is
    * private[sql]). */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Run `f` with `session` as the thread's active session, restoring
    * the previous one after (`SparkSession.withActive` is private[sql]). */
  def withActive[T](session: SparkSession)(f: => T): T =
    session.withActive(f)

  /** The catalyst expression of `c` (unresolved while `c` names columns
    * by name). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `e` as a Column, bound by expression: an aggregate built this way
    * needs no function-registry lookup, so nothing is registered per
    * session. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Block until `session`'s listener bus has delivered every queued
    * event, so a listener's counts are complete (`listenerBus` is
    * private[spark]). */
  def drainListenerBus(session: SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty()
}
