package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously, so a counter read after
  * an action is complete only once the listener bus has drained. The
  * drain call is package-private to Spark, hence this bridge in its
  * package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
