package org.apache.spark.sql.graftbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an SQL execution-end event carries (`qe` is
  * private[sql], hence the package): it ties the QueryExecutionListener's
  * callbacks to the execution id that the execution's jobs carry. */
object SqlEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
