package org.apache.spark

/** Test access to the listener bus: after `apply` returns, every event
  * posted so far — job starts included — has reached the status store
  * that `SparkContext.statusTracker` reads.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
