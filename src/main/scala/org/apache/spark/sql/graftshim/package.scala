package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters that
  * Spark 4 moved behind `org.apache.spark.sql.classic`. Lives in the
  * spark.sql package solely to satisfy the access modifier; contains
  * no Spark internals beyond the two calls.
  */
package object graftshim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark 4 hides AnalysisException's plain-message constructor behind
    * error classes; function builders still want a plain analysis-time
    * error with a readable signature hint. USER_RAISED_EXCEPTION is the
    * class for user-surfaced messages (what raise_error uses) —
    * INTERNAL_ERROR would misfile a routine usage mistake as an engine
    * bug for error-triage tooling.
    */
  def analysisError(msg: String): AnalysisException =
    new AnalysisException(
      errorClass = "USER_RAISED_EXCEPTION",
      messageParameters = Map("errorMessage" -> msg))

  /** Blocks until every listener has seen every event posted so far
    * (`private[spark]`); throws `TimeoutException` after 10 s.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The `QueryExecution` an execution-end event carries — the one a
    * `QueryExecutionListener` is handed (`private[sql]`).
    */
  def queryExecutionOf(e: execution.ui.SparkListenerSQLExecutionEnd)
      : execution.QueryExecution = e.qe
}
