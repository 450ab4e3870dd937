package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * test that counts jobs with a listener reads them all. (The listener
  * bus is Spark-internal, hence this package.)
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
