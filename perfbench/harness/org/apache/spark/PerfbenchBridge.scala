package org.apache.spark

/** Reaches the `private[spark]` listener bus so the benchmark can wait
  * for every posted event to be delivered instead of sleeping.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
