package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs drain it so
  * every event posted before the count is read has been delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
