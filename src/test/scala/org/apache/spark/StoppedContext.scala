package org.apache.spark

/** Runs `body` while `sc` reports itself stopped, then restores it.
  * A JVM holds one live SparkContext, and the suites share it, so a
  * spec cannot stop a real one to observe stopped-context behaviour.
  */
object StoppedContext {
  def during[T](sc: SparkContext)(body: => T): T = {
    require(sc.stopped.compareAndSet(false, true), "context already stopped")
    try body finally sc.stopped.set(false)
  }
}
