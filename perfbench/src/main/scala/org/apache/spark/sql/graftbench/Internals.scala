package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer reads, kept in one place. */
object Internals {
  /** Block until every event posted so far reached every listener, so a
    * traced operation's jobs, stages and batches are all attributed to it
    * before the next operation starts.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution an SQL execution ran (set in-process only). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
