package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * that a traced run's counts are complete when it reads them. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
