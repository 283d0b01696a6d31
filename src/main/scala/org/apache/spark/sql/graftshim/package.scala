package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.{DataType, ObjectType}

/** Bridge to the `private[sql]` Spark internals the engine needs: the
  * Column↔Expression converters that Spark 4 moved behind
  * `org.apache.spark.sql.classic`, the kernel call (whose input types
  * are `AbstractDataType`s) and a few listener and error hooks. Lives
  * in the spark.sql package solely to satisfy the access modifiers.
  */
package object graftshim {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `kernel.function(args, consts)` as a [[KernelCall]] column named
    * `name`: `kernel` is a Scala object, each arg is paired with the
    * type it must have, and an `Array[Long]` const is passed as is.
    */
  def kernelCall(name: String, kernel: AnyRef, function: String,
      resultType: DataType, args: Seq[(Column, DataType)], consts: Seq[Any] = Nil,
      propagateNull: Boolean = true, returnNullable: Boolean = false): Column =
    toColumn(KernelCall(name, kernel.getClass, function, resultType,
      args.map(a => toExpression(a._1)), args.map(_._2), consts.map {
        case t: Array[Long] => Literal(t, ObjectType(classOf[Array[Long]]))
        case v => Literal(v)
      }, propagateNull, returnNullable))

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
