package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** The number of plans in the session's cache manager: a DataFrame
  * `persist()` adds one, its `unpersist()` removes it. The count is
  * package-private to Spark SQL, hence this one-line bridge.
  */
object CachedEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
