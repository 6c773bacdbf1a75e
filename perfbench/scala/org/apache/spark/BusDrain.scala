package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * traced run can close a call's counters before the next call starts.
  * The listener bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
