package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Reads the RDD operation-scope names of a stage (the scope class is
  * package-private to Spark). A typed `Dataset.mapPartitions` shows up as
  * the scope "MapPartitions", an RDD-API call as its method name. Also
  * drains the (package-private) listener bus.
  */
object GraftBenchBridge {
  def scopeNames(si: StageInfo): Seq[String] = si.rddInfos.flatMap(_.scope.map(_.name)).toSeq

  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
