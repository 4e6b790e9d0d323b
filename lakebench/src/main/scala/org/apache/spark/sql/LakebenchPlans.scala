package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event carries is package-private
  * to Spark SQL; its tracker holds the Catalyst phase times (analysis,
  * optimization, planning) of that SQL execution. */
object LakebenchPlans {
  def planMs(e: SparkListenerSQLExecutionEnd): Option[Double] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs.toDouble).sum)
}
