package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark-private hooks the benchmark's tracer needs: draining the
  * listener bus once at the end of a traced run, so every event is
  * attributed before the per-layer metrics are computed, and the executed
  * query an SQL-execution-end event carries, for its scan row counts.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
