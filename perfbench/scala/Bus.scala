package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * per-op counters read after an op include all of that op's events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
