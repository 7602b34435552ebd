package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * It lives in Spark's package because the bus is private to it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
