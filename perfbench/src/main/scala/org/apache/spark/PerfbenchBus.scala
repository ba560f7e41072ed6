package org.apache.spark

/** The listener bus is private to Spark; the traced run must read its
  * counters only after every event of the traced work is delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
