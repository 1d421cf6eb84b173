package org.apache.spark

/** `SparkContext.listenerBus` is private to Spark. The scale runner
  * (`graft.tools.Scale`) drains it so that every task metric of a timed
  * run is counted before the run's counters are read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
