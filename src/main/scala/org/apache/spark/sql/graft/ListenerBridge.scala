package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the job-accounting
  * tools (PlanDump's per-query job breakdown, Bench's eager-query
  * measurement) need a synchronous drain so listener-side counters
  * are exact at the moment they are read. Same in-tree-package bridge
  * pattern as [[ColumnBridge]]. */
object ListenerBridge {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
