package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-layer counters are complete before they are read.
  * The listener bus is private to Spark, hence this package.
  */
object E2eBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
