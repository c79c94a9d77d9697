package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-side view of how many listeners a session has attached; the
  * SparkContext bus and the query-execution manager list them only
  * `private[spark]` / `private[sql]`.
  */
object ListenerCounts {
  /** (SparkContext bus, query-execution manager, streaming manager). */
  def apply(spark: SparkSession): (Int, Int, Int) = (
    spark.sparkContext.listenerBus.listeners.size,
    spark.listenerManager.listListeners().length,
    spark.streams.listListeners().length)
}
