package org.apache.spark.osmbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; per-span counts are read
  * only after every event of the span's jobs has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
