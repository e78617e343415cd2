package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` Column↔Expression conversions for graft's
  * native Catalyst expressions (the supported pattern for extension
  * libraries building custom expressions against the classic API).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wait until every queued listener event has been delivered, so
    * `graft.obs.Meter` reads a scope's counts only once its jobs, tasks
    * and SQL executions have all been seen.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The QueryExecution an SQL execution's end event carries: the one a
    * `QueryExecutionListener` is called with, next to the execution id
    * whose start event names the job tags it ran under.
    */
  def queryExecution(e: org.apache.spark.sql.execution.ui
      .SparkListenerSQLExecutionEnd)
      : Option[org.apache.spark.sql.execution.QueryExecution] = Option(e.qe)

  /** Column names a Column references. The classic Column wraps a
    * lazily-converted ColumnNode tree (NOT catalyst expressions —
    * `expression(c)` returns an opaque ColumnNodeExpression leaf), so
    * references are collected by walking the node tree. Two leaf
    * shapes carry names: `col("c")` stays an UnresolvedAttribute node,
    * while `df("c")` / dataset-apply resolves eagerly against the
    * frame and arrives as an ExpressionColumnNode wrapping a resolved
    * catalyst AttributeReference — missing the latter silently
    * projected referenced columns away (round-6 ADVICE #2).
    */
  def referencedNames(c: Column): Seq[String] =
    c.node.collect {
      case a: org.apache.spark.sql.internal.UnresolvedAttribute =>
        Seq(a.nameParts.mkString("."))
      case e: org.apache.spark.sql.classic.ExpressionColumnNode =>
        e.expression.collect {
          case ar: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            ar.name
        }
    }.flatten.distinct
}
