package org.apache.spark

/** The number of listeners registered on a SparkContext's listener bus,
  * across all its queues (the bus itself is package-private).
  */
object ListenerCount {
  def of(sc: SparkContext): Int = sc.listenerBus.listeners.size
}

/** Waits until the listener bus has delivered every posted event: the
  * bus is asynchronous, and its wait is package-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
