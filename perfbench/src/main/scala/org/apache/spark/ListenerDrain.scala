package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read right after an action include that action. The listener
  * bus is private to Spark; this object lives in its package for that. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
