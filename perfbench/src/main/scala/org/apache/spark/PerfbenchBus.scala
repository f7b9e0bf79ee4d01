package org.apache.spark

/** Access to the listener bus for the benchmark's traced runs: per-layer
  * task metrics are read only after every queued listener event has been
  * delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
