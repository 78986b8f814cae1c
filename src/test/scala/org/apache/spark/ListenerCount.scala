package org.apache.spark

/** The number of listeners registered on a SparkContext's listener bus,
  * across all its queues (the bus itself is package-private).
  */
object ListenerCount {
  def of(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
