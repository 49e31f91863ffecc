package org.apache.spark

/** Lets specs wait for the listener bus to deliver every event posted
  * so far, so job counts read after a call are complete. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
