package org.apache.spark

/** Access to Spark internals that have no public equivalent. */
object GraftBridge {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
