package org.apache.spark

/** Test access to Spark internals that have no public equivalent. */
object GraftTestBridge {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
