package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * test can count the jobs a call started. The listener bus is
  * package-private; this is the one call that needs it.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
