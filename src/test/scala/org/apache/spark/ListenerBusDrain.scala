package org.apache.spark

/** Waits until every queued listener event has been delivered, so job
  * counts read after a call are complete. The bus is only reachable from
  * Spark's own package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
