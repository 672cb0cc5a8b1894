package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test access to state Spark keeps package-private. */
object SparkInternals {
  /** Wait until the listener bus is empty: specs that count events
    * with a listener read the count only after this. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Entries in the session's cache manager — persisted frames,
    * whether or not their blocks were ever materialized. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
