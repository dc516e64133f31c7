package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access shim for the benchmark's SQL spans: the query execution an
  * execution-end event belongs to is `private[sql]` (Spark's own
  * `QueryExecutionListener` bus reads it from the same field). Same
  * pattern as [[GraftPlanBridge]]: one narrow crossing, no behavior.
  */
object PerfbenchEventBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
