package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that every listener
  * event of an op has been delivered before the traced run harvests it.
  * `listenerBus` is package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
