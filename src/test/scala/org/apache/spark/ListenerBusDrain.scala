package org.apache.spark

/** Waits until every event posted so far has reached the listeners — a
  * spec counting jobs reads its listener only after this. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
