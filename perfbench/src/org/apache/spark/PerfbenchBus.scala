package org.apache.spark

/** Lets the benchmark's tracer wait until every queued listener event has
  * been delivered, so a span's job and task totals are complete when it
  * closes. The bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
