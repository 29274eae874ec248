package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DataTypes, LongType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash document fingerprint as a native Catalyst
  * expression with `doGenCode` — stays inside whole-stage codegen
  * (a Scala UDF here would break the codegen span and force row
  * serialization on a 100 TB scan).
  *
  * h = fold over codepoints: h*31 + cp (mod 1e9+7). Matches the SQL
  * `list_reduce(list_transform(...unicode...), (acc,c) -> (acc*31+c) % M)`.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires a string argument, got ${child.dataType}")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val Mod = 1000000007L

  /** Called from generated code — keep signature (UTF8String)Long. */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  /** SQL builder (injected by GraftExtensions). */
  val builder: Seq[Expression] => Expression = exprs => RollingHash(exprs.head)

  def rollingHash(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_rolling_hash", c)
}
