package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * per-call counters only after every event of the call has been handled.
  * `listenerBus` is package-private to Spark, hence this file's package.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
