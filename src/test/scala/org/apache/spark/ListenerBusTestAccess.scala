package org.apache.spark

/** Waits until every queued listener event has been delivered, so a test
  * listener has seen every job and task of the actions before it. */
object ListenerBusTestAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
