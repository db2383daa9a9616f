package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}

/** Test access to the number of frames the session's CacheManager holds,
  * which Spark keeps `private[sql]`.
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[ClassicSparkSession].sharedState.cacheManager.numCachedEntries
}
