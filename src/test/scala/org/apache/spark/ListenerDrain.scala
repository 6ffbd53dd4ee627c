package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]. Specs that read job
  * counts from the status tracker drain the bus first, so every job event
  * of the code under test has reached the tracker. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
