package org.apache.spark.sql.graft

/** Test-side view of Catalyst's CacheManager (its accessors are
  * `private[sql]`): how many cached plans the session's context holds.
  */
object CacheProbe {
  def cachedPlans(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
