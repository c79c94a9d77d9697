package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Drains Spark's asynchronous listener bus. `SparkContext.listenerBus`
  * and `LiveListenerBus.waitUntilEmpty` are `private[spark]`, so the
  * call lives in this bridge package beside [[ColumnBridge]].
  * Streaming-progress and query-execution listener events ride the same
  * bus, so one drain covers every listener kind.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
