package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * tracer reads complete job, stage and task metrics after an action. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
