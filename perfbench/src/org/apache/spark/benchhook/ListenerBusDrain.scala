package org.apache.spark.benchhook

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * span's listener has seen all of the span's stages. The bus is
  * package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
