package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every event
  * posted so far, so job counts read after a pass are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
