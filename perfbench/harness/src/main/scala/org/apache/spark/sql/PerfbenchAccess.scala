package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the tracer needs. */
object PerfbenchAccess {
  /** Block until every listener event posted so far has been delivered,
    * so each event is attributed to the key that was running. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution behind a finished SQL execution, whichever
    * session ran it (a QueryExecutionListener sees only its own). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
