package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The executed query of a finished SQL execution, which Spark keeps
 *  `private[sql]` on the end event: its plan holds the SQL metrics the
 *  traced run reads, keyed by the same execution id the jobs carry. */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
