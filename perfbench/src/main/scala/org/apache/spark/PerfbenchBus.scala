package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * the traced run can attribute events to the operation that caused them.
  * `listenerBus` is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
