package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution behind an ended SQL execution (`qe` is package-
  * private), so the recorder can join an execution's events to its plan. */
object BenchQe {
  def id(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
