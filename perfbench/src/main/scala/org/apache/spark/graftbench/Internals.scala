package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The two Spark internals the benchmark reads: draining the listener
  * bus (so a finished operation's task events are counted before the next
  * one starts) and the number of cached plans in the CacheManager. */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def cachedPlans(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.IndexedSeq[_]].size
  }
}
