package org.apache.spark

/** Listener-bus drain for the benchmark's counters. `waitUntilEmpty` is
  * package-private to Spark; reading per-group counters before the bus has
  * delivered every task-end event would under-count.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
