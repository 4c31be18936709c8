package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a listener's totals are complete when read. The bus is
  * private to Spark, hence this accessor in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
