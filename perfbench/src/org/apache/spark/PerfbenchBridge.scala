package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]. The traced run drains it
  * before reading its listener, so every job and task event of the
  * measured ops has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
