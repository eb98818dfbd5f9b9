package org.apache.spark

/** Reaches the `private[spark]` listener bus so a probe can wait until
  * every posted event has been delivered, instead of sleeping.
  */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
