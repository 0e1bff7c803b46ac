package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until Spark's asynchronous listener bus has delivered every
  * posted event, so counters read afterwards are complete. The bus is
  * Spark-internal, hence this helper lives under `org.apache.spark`. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
