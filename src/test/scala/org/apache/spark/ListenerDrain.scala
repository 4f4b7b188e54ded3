package org.apache.spark

/** Listener events are delivered asynchronously; specs that count them
  * drain the bus first. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
