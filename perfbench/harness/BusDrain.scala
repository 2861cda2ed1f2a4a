package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * per-pass tallies read after a pass include all of that pass's jobs,
  * tasks, query executions and stream progress events. The live listener
  * bus is package-private, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
