package org.apache.spark

/** Spark delivers listener events on its own thread; `listenerBus` is
  * package-private, so draining it before reading listener counters needs an
  * accessor inside `org.apache.spark`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
