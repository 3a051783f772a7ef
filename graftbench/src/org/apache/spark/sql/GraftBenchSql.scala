package org.apache.spark.sql

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** A finished SQL execution's plan and duration (ns) are package-private
  * on the end event. Reading them there, rather than through a session's
  * QueryExecutionListener, also sees the executions of the cloned
  * sessions streaming queries run in.
  */
object GraftBenchSql {
  def finished(e: SparkListenerEvent): Option[(QueryExecution, Long)] = e match {
    case x: SparkListenerSQLExecutionEnd if x.qe != null && x.executionFailure.isEmpty =>
      Some((x.qe, x.duration))
    case _ => None
  }
}
