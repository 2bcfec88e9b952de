package org.apache.spark

/** The listener bus is private to Spark; the tracer must wait for it to
  * deliver every event of a span before reading its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
