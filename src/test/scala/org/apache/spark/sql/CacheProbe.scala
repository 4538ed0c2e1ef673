package org.apache.spark.sql

/** Test-only view of the session's cache: the entry count is
  * `private[sql]` in the cache manager. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
