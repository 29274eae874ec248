package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen dot product over two `array<double>` columns.
  *
  * The builtin higher-order route (`aggregate(zip_with(...))`) is
  * CodegenFallback — interpreted per element with boxing — which makes
  * it the bottleneck of every similarity scan. This expression compiles
  * to a primitive double loop inside whole-stage codegen. The sum is
  * sequential (index order), so results are bit-identical to the
  * interpreted fold and to DuckDB's list_dot_product.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayDotProduct.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native codegen element-wise division of an `array<double>` by a
  * scalar — the unit-normalization kernel. The higher-order
  * `transform(e, x -> x / s)` route is CodegenFallback (interpreted,
  * boxed per element); this compiles to a primitive double loop. Each
  * element is divided independently (no accumulation), so results are
  * bit-identical to DuckDB's `list_transform(e, x -> x / s)`. */
case class ArrayScale(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any, s: Any): Any =
    ArrayScale.scale(a.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, s) =>
      s"graft.functions.ArrayScale.scale($a, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayScale =
    copy(left = newLeft, right = newRight)
}

object ArrayScale {
  /** Called from generated code. */
  def scale(a: ArrayData, s: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) / s; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  val builder: Seq[Expression] => Expression =
    exprs => ArrayScale(exprs(0), exprs(1))

  def column(a: Column, s: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_scale", a, s)
}

object ArrayDotProduct {
  /** Called from generated code. Mismatched lengths raise (as DuckDB's
    * list_dot_product does) — silently truncating would rank corrupted
    * vectors with a plausible-but-wrong score instead of surfacing them. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot product requires equal-length arrays: $n vs ${b.numElements()}")
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** SQL builder (injected by GraftExtensions). */
  val builder: Seq[Expression] => Expression =
    exprs => ArrayDotProduct(exprs(0), exprs(1))

  def column(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)
}
