package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark-internal reads the benchmark's listener needs. */
object BenchAccess {
  /** Wait until every listener event posted so far has been delivered,
    * so per-layer counters are complete before they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (funcName, QueryExecution, durationNs) of a finished SQL execution:
    * exactly what QueryExecutionListener.onSuccess receives for it. */
  def finished(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution, Long)] =
    Option(e.qe).map(qe => (e.executionName.getOrElse(""), qe, e.duration))
}
