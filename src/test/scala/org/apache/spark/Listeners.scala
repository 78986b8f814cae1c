package org.apache.spark

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.SparkListenerInterface

/** The listeners registered on a SparkContext's listener bus, across all
  * its queues (the bus itself is package-private).
  */
object Listeners {
  def of(sc: SparkContext): Set[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSet
}

/** Waits until the listener bus has delivered every posted event: the
  * bus is asynchronous, and its wait is package-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Whether a stage writes shuffle output: its shuffle id is
  * package-private.
  */
object ShuffleStage {
  def apply(s: org.apache.spark.scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined
}
