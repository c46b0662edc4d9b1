package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * tracer waits for every posted event before it reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
