package org.apache.spark

/** Spark delivers listener events on its own thread and `listenerBus` is
  * package-private: tests that read listener counters drain it through this
  * accessor first.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
