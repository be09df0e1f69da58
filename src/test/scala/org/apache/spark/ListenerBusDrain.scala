package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener read right after an action has seen all of that action's
  * events (the bus is asynchronous). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
