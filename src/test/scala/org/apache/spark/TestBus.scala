package org.apache.spark

/** Waits until every posted listener event has been delivered, so a test
  * that records query executions sees all of them. (`listenerBus` is
  * package-private to Spark.) */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
