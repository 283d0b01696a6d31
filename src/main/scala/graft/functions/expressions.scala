package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.{toColumn, toExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-sum-mod-N routing hash — the reference's producer routing
  * function (`change_stream_reading/change_handler.py:77-81`: sum of
  * the key's bytes modulo the number of producers). Implemented as a
  * native Catalyst expression with codegen so it stays inside
  * whole-stage codegen on the hot path (a Scala UDF would break the
  * codegen span and add ser/de per row).
  */
case class ByteSumModExpr(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var s = 0L
    var i = 0
    while (i < bytes.length) { s += (bytes(i) & 0xff); i += 1 }
    (s % n).toInt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("bytes")
      val s = ctx.freshName("sum")
      val i = ctx.freshName("i")
      s"""
         |byte[] $b = $c.getBytes();
         |long $s = 0L;
         |for (int $i = 0; $i < $b.length; $i++) { $s += ($b[$i] & 0xff); }
         |${ev.value} = (int)($s % $n);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ByteSumModExpr =
    copy(child = newChild)
}

/** Polynomial rolling-hash document fingerprint:
  * h = fold(h * 31 + byte) mod 1e9+7 over the string's UTF-8 bytes.
  * The modulus keeps every intermediate inside an int64 so the exact
  * same arithmetic is expressible in ANSI SQL (the DuckDB oracle uses
  * list_reduce with identical constants). Codegen'd for the hot path.
  */
case class FingerprintExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  final val Mod = 1000000007L

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * 31L + (bytes(i) & 0xff)) % Mod; i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $b = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h = ($h * 31L + ($b[$i] & 0xff)) % ${Mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
}

/** Integer dot product of two array<bigint> vectors — the hot inner
  * loop of every similarity operator. The declarative form,
  * aggregate(zip_with(a, b, *), 0, +), is interpreted (higher-order
  * functions never enter whole-stage codegen) and allocates an
  * intermediate products array per row pair; this expression is one
  * codegen'd loop over the two ArrayDatas with no allocation. At
  * billions of pairs (ANN re-rank at 100 TB) that is the difference
  * between a scan-speed stage and an interpreter-bound one.
  *
  * Length-mismatched inputs yield NULL — the same visible signal the
  * HOF form produces (zip_with pads with null, which nulls the sum):
  * a truncated embedding must surface as missing, never as a
  * plausible partial dot product.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product requires two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // nullable=true forces a mutable isNull local, so the mismatch
    // branch can null the result inside nullSafeCodeGen's body
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  def apply(a: Column, b: Column): Column =
    toColumn(DotProductExpr(toExpression(a), toExpression(b)))
}

/** Morton (z-order) interleave of the low 16 bits of two bigint
  * columns: bit i of x lands at position 2i, bit i of y at 2i+1,
  * yielding a 32-bit z-value. Range-partitioning + sorting a table by
  * this value clusters rows so that per-file min/max statistics prune
  * on BOTH dimensions — the standard multi-dimensional data-layout
  * trick for 100-TB scan avoidance (a single-column sort can only ever
  * prune its own column). Pure integer bit arithmetic, so the DuckDB
  * oracle reproduces it exactly with shifts and masks; codegen'd so
  * the layout pass runs at scan speed.
  */
case class InterleaveBitsExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == LongType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"interleave_bits requires two bigint arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    InterleaveBits.eval(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.InterleaveBits.eval($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InterleaveBitsExpr =
    copy(left = newLeft, right = newRight)
}

object InterleaveBits {
  /** Low 16 bits of each input, x at even positions, y at odd. */
  def eval(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  def apply(a: Column, b: Column): Column =
    toColumn(InterleaveBitsExpr(toExpression(a), toExpression(b)))
}

object ByteSumMod {
  def apply(c: Column, n: Int): Column =
    toColumn(ByteSumModExpr(toExpression(c), n))
}

object Fingerprint {
  def apply(c: Column): Column =
    toColumn(FingerprintExpr(toExpression(c)))
}
