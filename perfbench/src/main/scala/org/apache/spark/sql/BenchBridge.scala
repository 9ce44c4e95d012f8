package org.apache.spark.sql

/** The two Spark-internal reads the benchmark needs. */
object BenchBridge {
  /** Waits until every listener has seen the events posted so far, so job
    * counts read right after a request are complete.
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Entries in the session's CacheManager (persisted DataFrames). */
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
