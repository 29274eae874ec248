package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Count of space-separated tokens of `text` that appear in the given
  * token set — DUPLICATES COUNTED (each occurrence is a hit), matching
  * `len(list_filter(string_split(text,' '), x -> list_contains(set, x)))`.
  *
  * Replaces the higher-order `filter(t, x.isInCollection(...))`
  * formulation, which is CodegenFallback (interpreted per row with a
  * boxed lambda) — this stays inside whole-stage codegen: one token
  * scan, one hash probe per token, no intermediate arrays.
  *
  * The token set (right child) must be a foldable array<string> — it is
  * evaluated once at plan time into a hash set shipped via the plan's
  * references, never rebuilt per row.
  */
case class TokenSetHits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "token_set_hits requires (string, foldable array<string>)")
    }

  override def dataType: DataType = IntegerType

  @transient private lazy val tokenSet: java.util.HashSet[
      org.apache.spark.unsafe.types.UTF8String] =
    TokenSetHits.buildSet(right.eval().asInstanceOf[ArrayData])

  override def nullSafeEval(text: Any, tokens: Any): Any =
    TokenSetHits.hits(
      text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], tokenSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokenSet", tokenSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, (t, _) => s"graft.functions.TokenSetHits.hits($t, $ref)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenSetHits =
    copy(left = newLeft, right = newRight)
}

object TokenSetHits {
  import org.apache.spark.unsafe.types.UTF8String

  private val Space = UTF8String.fromString(" ")

  def buildSet(arr: ArrayData): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](arr.numElements() * 2)
    var i = 0
    while (i < arr.numElements()) {
      val t = arr.getUTF8String(i)
      if (t != null) s.add(t)
      i += 1
    }
    s
  }

  /** Called from generated code. */
  def hits(text: UTF8String, set: java.util.HashSet[UTF8String]): Int = {
    val words = text.split(Space, -1)
    var n = 0
    var i = 0
    while (i < words.length) {
      if (set.contains(words(i))) n += 1
      i += 1
    }
    n
  }

  /** SQL builder (injected by GraftExtensions). */
  val builder: Seq[Expression] => Expression =
    exprs => TokenSetHits(exprs(0), exprs(1))

  def column(text: Column, tokens: Seq[String]): Column =
    org.apache.spark.sql.functions.call_function("graft_token_set_hits",
      text, org.apache.spark.sql.functions.typedLit(tokens))
}
