package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * counters a listener keeps are complete when the benchmark reads them.
  * Lives in this package because the listener bus is `private[spark]`.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
