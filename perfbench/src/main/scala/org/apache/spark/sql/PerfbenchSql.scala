package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The execution-end event carries its QueryExecution in a field private
  * to Spark SQL; the tracer uses it to join a `QueryExecutionListener`
  * callback (which has no execution id) to its execution. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
