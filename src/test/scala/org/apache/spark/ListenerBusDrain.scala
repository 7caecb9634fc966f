package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so a test's listener has seen all events of the actions it ran.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
