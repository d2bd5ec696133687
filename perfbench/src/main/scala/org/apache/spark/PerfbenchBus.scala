package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it so the
  * counters it reads include every event posted before it reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
