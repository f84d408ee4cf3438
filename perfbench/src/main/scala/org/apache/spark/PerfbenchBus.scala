package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it at span
  * boundaries so every job, task and query-execution event of a span is
  * delivered before the next span starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
