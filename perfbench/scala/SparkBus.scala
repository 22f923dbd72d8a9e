package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run reads complete task counters. The bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
