package org.apache.spark

/** Waits for Spark's listener bus to deliver every event posted so far.
  * The traced passes remove their listeners between passes; draining first
  * keeps a pass's late task and stage events from being lost.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
