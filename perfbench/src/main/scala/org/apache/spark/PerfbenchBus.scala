package org.apache.spark

/** The listener bus is delivered asynchronously; the trace report must
  * wait until every posted event has reached the benchmark's listener.
  * `listenerBus` is package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
