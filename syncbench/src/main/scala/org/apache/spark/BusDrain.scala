package org.apache.spark

/** The listener bus is asynchronous; a trace read right after an action
  * can miss its tail. Spark exposes the wait only inside its package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
