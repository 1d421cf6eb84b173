package org.apache.spark

/** The listener bus is private to Spark; the benchmark reads its counters
  * only after every posted event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
