package org.apache.spark.sql



/** Engine internals the benchmark reads but Spark keeps package-private. */
object E2eBridge {

  /** Block until every event posted so far reached the listeners, so
    * counters read right after an action include that action's tasks. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Relations still registered with the session's CacheManager. */
  def cachedRelations(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
