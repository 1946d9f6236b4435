package org.apache.spark

/** The listener bus keeps its drain package-private; the traced run
  * needs it so every job, task and query event has been delivered
  * before the counters are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
