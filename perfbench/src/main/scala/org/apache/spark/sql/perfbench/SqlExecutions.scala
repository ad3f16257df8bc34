package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end event carries, which Spark
  * keeps package-private. Unlike a session's QueryExecutionListener, this
  * sees the executions of every session of the context, including the
  * sessions an op derives with `newSession()`. */
object SqlExecutions {
  def of(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
