package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-side reads of `private[sql]` cache state. */
object CacheProbe {
  /** Entries in the `CacheManager` that `spark` shares with its context. */
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
