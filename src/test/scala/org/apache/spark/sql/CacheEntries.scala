package org.apache.spark.sql

/** Access to the CacheManager's entry count, which is private to Spark:
  * specs compare it around a call to prove the call released every
  * relation it persisted, including entries no job ever materialized. */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
