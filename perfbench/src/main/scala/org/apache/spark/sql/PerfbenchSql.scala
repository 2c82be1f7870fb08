package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the Catalyst planning time of a finished SQL execution: the
  * execution-end event carries its `QueryExecution` only to Spark's own
  * package, hence this bridge.
  */
object PerfbenchSql {
  def planningMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
