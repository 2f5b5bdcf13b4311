package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so a
  * spec can count the events an action caused. `listenerBus` is
  * package-private to Spark, hence this package.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
