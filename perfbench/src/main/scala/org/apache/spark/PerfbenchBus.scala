package org.apache.spark

/** The listener bus is private to Spark; the trace needs to wait until
  * every event of a finished call has reached its listeners before it
  * reads their counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
