package org.apache.spark

/** Waits until every posted listener event has been delivered, so a traced
  * operation's jobs, tasks and SQL executions are all recorded before the
  * benchmark reads them. (`listenerBus` is package-private to Spark.) */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
