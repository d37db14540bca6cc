package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously. Counters read at the end
  * of a span are only complete once the bus has drained; the drain call is
  * package-private to Spark, so this one-line bridge lives in its package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
