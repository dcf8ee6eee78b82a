package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * Listener events are delivered on a separate thread; a span that
  * reads listener counters right after its action would otherwise miss
  * the last tasks. Lives in this package because the bus is
  * `private[spark]`.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
