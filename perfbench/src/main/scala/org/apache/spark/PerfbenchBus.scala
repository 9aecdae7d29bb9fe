package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it so a
  * per-op counter baseline never misses task events still queued from
  * the previous op. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
