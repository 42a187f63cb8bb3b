package org.apache.spark

/** The one private-API touchpoint of the benchmark: block until every
  * event already posted to the listener bus has been delivered, so a
  * traced region's listener-derived spans are complete when it is read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
