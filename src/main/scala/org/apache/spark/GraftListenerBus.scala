package org.apache.spark

/** Spark delivers listener events asynchronously; a profiler must wait
  * until every posted event has reached its listener before it reads
  * what the listener recorded. `listenerBus` is package-private to
  * Spark, hence this file's package.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
