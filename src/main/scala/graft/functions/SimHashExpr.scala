package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DataTypes, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a document as a single native expression:
  * distinct space-tokens, one bit-vote pass with the PORTABLE
  * rolling-hash × quadratic-mix family ([[SimHashWide.vote]] — this is
  * exactly lane 0 of [[SimHashWide]], kept bit-for-bit identical so
  * the two expressions interoperate), sign per bit. Pure bounded
  * integer arithmetic: a DuckDB oracle replays every bit.
  *
  * Replaces an explode + 64-aggregate formulation: per-row projection,
  * no shuffle at all for signature computation — at 100 TB the simhash
  * stage becomes a pure map over the corpus.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("simhash64 requires a string argument")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimHash64.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  private val Space = UTF8String.fromString(" ")

  /** Called from generated code. */
  def hash(text: UTF8String): Long = {
    val words = text.split(Space, -1)
    val seen = new java.util.HashSet[UTF8String](words.length * 2)
    val votes = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (seen.add(w)) {
        // the shared lane-0 sign bits (memoized per distinct word)
        val sb = SimHashWide.signBits(w, 1)(0)
        var j = 0
        while (j < 64) {
          votes(j) += (if ((sb & (1L << j)) != 0L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** SQL builder (injected by GraftExtensions). */
  val builder: Seq[Expression] => Expression = exprs => SimHash64(exprs.head)
}
