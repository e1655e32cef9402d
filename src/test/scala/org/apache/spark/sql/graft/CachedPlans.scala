package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => CSparkSession}

/** The number of plans the session's CacheManager holds, for leak checks
  * (the count is Spark-private, hence this package). */
object CachedPlans {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[CSparkSession].sharedState.cacheManager.numCachedEntries
}
