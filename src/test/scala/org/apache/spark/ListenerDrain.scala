package org.apache.spark

/** Listener events are delivered asynchronously; specs that count them
  * drain the bus first. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** The StreamingQueryListenerBus instances on the SparkContext's bus: one
  * per session whose stream-query manager Spark has made. */
object StreamBuses {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.toArray
    .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
}
