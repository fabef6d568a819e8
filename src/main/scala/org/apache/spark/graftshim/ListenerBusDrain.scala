package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener removed right after an action has seen all of its stages. The
  * bus is package-private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
