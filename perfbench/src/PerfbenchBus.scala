package org.apache.spark

/** Lets the traced run wait until every listener event posted so far has
  * been delivered, so a pass's jobs and stages are attributed before the
  * next pass starts. The drain is outside every timed region. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
