package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private engine hooks the benchmark reads: draining the
  * listener bus (task-end events arrive asynchronously, so counters are
  * read only after the bus is empty) and the executed plan carried by an
  * SQL execution-end event (its join-output SQL metrics and root output). */
object PerfbenchBridge {

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
