package org.apache.spark

/** Access to Spark internals that have no public equivalent. */
object GraftBridge {
  /** Blocks until every posted listener event has been delivered, however
    * far behind a slow listener keeps the bus: the bus's own wait gives up
    * after a fixed bound, so it is called again until the bus is empty.
    */
  def drainListeners(sc: SparkContext): Unit = {
    var drained = false
    while (!drained)
      try { sc.listenerBus.waitUntilEmpty(10000L); drained = true }
      catch { case _: java.util.concurrent.TimeoutException => }
  }
}
