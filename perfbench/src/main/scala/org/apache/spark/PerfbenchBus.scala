package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * run's traced jobs are all recorded before its figures are read.
  * (The listener bus is Spark-internal, hence this package.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
