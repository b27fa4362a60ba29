package org.apache.spark

/** The listener bus delivers events asynchronously; counters read at a
  * query boundary are only complete once it has drained. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
