package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's asynchronous bus; the traced run
  * waits for it to empty after each operation (outside the timed region)
  * so every job of that operation has been counted. The bus is
  * package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
