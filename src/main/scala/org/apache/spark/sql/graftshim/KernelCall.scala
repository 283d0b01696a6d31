package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** A scalar kernel: `kernel.function(children ++ consts)`, one static
  * JVM function over Catalyst values, called under the SQL name `name`.
  *
  * Analysis checks each child against its input type with no implicit
  * cast, and an unaliased column is named `name(children)`. The
  * optimizer then replaces the call by a `StaticInvoke`, which calls
  * the same function from interpreted eval and from generated code.
  * `consts` are trailing literal arguments (widths, lookup tables).
  * With `propagateNull` a null child gives null without a call, and
  * the call is null-intolerant to the optimizer; `returnNullable` says
  * the function itself may return null.
  */
case class KernelCall(
    name: String,
    kernel: Class[_],
    function: String,
    resultType: DataType,
    children: Seq[Expression],
    inputTypes: Seq[AbstractDataType],
    consts: Seq[Literal],
    propagateNull: Boolean,
    returnNullable: Boolean)
    extends RuntimeReplaceable with ExpectsInputTypes {

  override lazy val replacement: Expression = StaticInvoke(kernel, resultType,
    function, children ++ consts, propagateNull = propagateNull,
    returnNullable = returnNullable)

  override def prettyName: String = name

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}
