package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered on an asynchronous bus; counts read
  * right after an action can miss its last events. The drain hook is
  * package-private to Spark, hence this file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
