package org.apache.spark

/** The listener bus is private to Spark; Meter needs one call on it to
  * read complete counters once a query's action returns. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
