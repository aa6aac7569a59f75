package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Narrow bridge into Spark's `private[sql]` Column↔Expression
  * converters (`org.apache.spark.sql.classic.ExpressionUtils`), needed
  * for the one expression family that carries NON-CHILD state — a
  * serialized Bloom filter — and therefore cannot be constructed
  * through the `FunctionRegistry` path (`F.call_function`), whose
  * builders only receive child `Expression`s. Everything else in graft
  * goes through registered functions; keep it that way — this bridge is
  * for constructor-state expressions only, and for the three
  * package-private reads the span probe `graft.obs` needs.
  *
  * Lives in package `org.apache.spark.sql` to satisfy the `private[sql]`
  * access qualifier — the standard interop pattern used by typed-Spark
  * libraries. No Spark internals are modified.
  */
package object graftbridge {

  /** Column wrapping a raw Catalyst expression. */
  def exprColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a (classic) Column. */
  def columnExpr(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Returns once every event posted to the listener bus so far has
    * reached every listener (throws after 10 s). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The job tags in a job event's local properties. */
  def jobTags(p: java.util.Properties): Set[String] =
    Option(p).flatMap(q => Option(q.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .fold(Set.empty[String])(_.split(SparkContext.SPARK_JOB_TAGS_SEP).toSet)

  /** The query an execution-end event reports, whatever session ran it. */
  def executedQuery(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
