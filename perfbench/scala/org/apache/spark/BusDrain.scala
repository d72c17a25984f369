package org.apache.spark

/** The listener bus is asynchronous: task-end events of a finished job
  * can still be queued when the action returns. Counters read per call
  * must wait for the queue to drain, and the drain call is package
  * private to Spark. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
