package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * per-op Spark metrics are complete before they are read. The bus is
  * private to Spark; this is the one call the benchmark needs from it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
