package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run drains
  * it at each pass boundary so every event lands in the pass that caused
  * it. `listenerBus` is Spark-internal, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
