package org.apache.spark

/** Waits until every event posted so far has been delivered to the
  * listeners, so counters read afterwards are complete (the listener bus
  * is asynchronous; a fixed sleep would only make that likely).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
