package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two Spark internals the harness reads, behind Spark's package
  * visibility (`private[spark]` / `private[sql]`), hence the package.
  */
object SparkInternals {

  /** Blocks until every event posted so far has reached every listener, so
    * counters read at a call boundary hold all of that call's events.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Plans currently pinned in the session's `CacheManager`. */
  def cachedPlans(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
