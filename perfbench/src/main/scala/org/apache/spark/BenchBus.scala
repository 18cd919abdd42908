package org.apache.spark

/** Listener events are delivered asynchronously. The harness attributes
  * events to the op that caused them by draining the bus after each op
  * (outside the timed region), which needs the scheduler-private
  * `waitUntilEmpty`; this object is the one place that reaches it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
