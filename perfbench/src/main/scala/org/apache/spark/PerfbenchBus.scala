package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read right after an action include that action's events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
