package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's per-span Spark counters are complete before they are read.
  * Lives in this package because the bus is `private[spark]`. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
