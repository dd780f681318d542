package org.apache.spark

/** Listener events arrive asynchronously; the harness drains the bus
  * before it reads its counters, so every task of a finished call has
  * been counted. `listenerBus` is package-private, hence this file.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
