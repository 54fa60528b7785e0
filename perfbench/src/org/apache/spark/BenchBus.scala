package org.apache.spark

/** Lets the benchmark wait until every posted listener event is delivered,
  * so counters read at the end of a timed window are complete. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
