package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, classic}

/** Forwards the session cache's entry count (a `private[sql]` member) to
  * the test harness's leak probe. */
object SessionCache {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
