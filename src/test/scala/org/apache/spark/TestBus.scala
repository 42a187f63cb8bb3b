package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so a spec's listener counts are complete when it reads them
  * (`listenerBus` is private to this package). */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
