package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an SQL execution ran is package-private to Spark SQL; the
  * benchmark reads its id to tie Catalyst phase times to the execution. */
object PerfbenchSql {
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
