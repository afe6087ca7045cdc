package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the traced run reads complete job and task counters. The listener bus
  * is Spark-internal; this is the one accessor the benchmark needs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
