package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * spec's listener sees all jobs that ran before the call.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
