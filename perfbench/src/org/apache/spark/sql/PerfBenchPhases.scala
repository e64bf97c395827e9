package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Planning phases of a finished SQL execution, as (start ms, end ms) per
  * phase name (analysis, optimization, planning). The end event's query
  * execution is package-private to Spark SQL, hence this bridge.
  */
object PerfBenchPhases {
  def apply(e: SparkListenerSQLExecutionEnd): Map[String, (Long, Long)] =
    Option(e.qe).map(_.tracker.phases.map { case (k, p) =>
      k -> ((p.startTimeMs, p.endTimeMs))
    }).getOrElse(Map.empty)
}
