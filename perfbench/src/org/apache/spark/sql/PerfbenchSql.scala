package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end event carries. It is what a
  * `QueryExecutionListener` receives for that execution, and it is the
  * only link between the listener's callback and the execution id (whose
  * start event carries the job tags). `qe` is `private[sql]`. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
