package org.apache.spark

/** The listener bus is package-private; the traced run needs it drained
  * before it reads the span counters.
  */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
