package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced span boundary sees the counters of all jobs that ran inside it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
