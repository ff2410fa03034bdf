package org.apache.spark

/** Waits until every queued listener event has been delivered, so
  * counters read after a run include its last jobs. (The listener bus is
  * package-private to Spark.) */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
