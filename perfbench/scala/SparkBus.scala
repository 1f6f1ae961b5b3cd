package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * recorder's job, stage and query-phase records are complete before they
  * are written. (The bus is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
