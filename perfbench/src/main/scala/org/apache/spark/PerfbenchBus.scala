package org.apache.spark

/** The benchmark's one reach into Spark internals: wait until every
  * posted listener event has been delivered, so a traced run's counters
  * are complete before they are aggregated. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
