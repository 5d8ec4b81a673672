package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession

/** The few Spark internals the benchmark reads, reached from inside the
  * `org.apache.spark` namespace.
  */
object Internals {
  /** Blocks until every queued listener event has been delivered. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Number of cached query plans held by the session's cache manager. */
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
