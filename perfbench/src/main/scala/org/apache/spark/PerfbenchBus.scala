package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * the traced run can attribute events to the op that just ended. The
  * listener bus is package-private; this is the one call that needs it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
