package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * benchmark listener's counts are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
