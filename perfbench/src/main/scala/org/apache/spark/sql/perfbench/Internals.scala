package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two reads Spark keeps package-private, which the tracer needs:
  *   - the listener bus's drain: a traced pass is summed only once every
  *     event it posted has been delivered;
  *   - the executed query carried by the shared bus's SQL-execution-end
  *     event: it reaches the tracer whatever session ran the query
  *     (the engine's streaming replays run in session clones, whose
  *     per-session listener managers a listener on the main session
  *     never hears from). */
object Internals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
