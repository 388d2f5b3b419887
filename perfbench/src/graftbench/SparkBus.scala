package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * attribution counts are complete before they are read. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
