package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counters read after a step belong to that step. The bus
  * is package-private to Spark, hence this bridge.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
