package org.apache.spark

/** Test bridge to the listener bus, which is private to Spark: blocks
  * until every event posted so far has reached every listener, so a test
  * can read what its listeners recorded for the work it just ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
