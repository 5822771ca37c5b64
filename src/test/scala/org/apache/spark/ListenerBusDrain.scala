package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a test
  * listener has seen all the events of the work it just ran.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
