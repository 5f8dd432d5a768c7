package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Links a finished SQL execution (whose jobs carry its execution id) to
  * the QueryExecution a QueryExecutionListener receives.
  */
object PerfbenchSql {
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
