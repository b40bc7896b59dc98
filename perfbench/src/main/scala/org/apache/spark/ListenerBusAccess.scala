package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event
  * (`LiveListenerBus.waitUntilEmpty` is private to Spark's package). */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
