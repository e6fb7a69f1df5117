package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs one call
  * on it to read complete per-group totals after a span ends. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
