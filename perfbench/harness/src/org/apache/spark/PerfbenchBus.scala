package org.apache.spark

/** The listener bus delivers events asynchronously; per-operation counter
  * deltas are only exact after it has drained. `listenerBus` is
  * package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
