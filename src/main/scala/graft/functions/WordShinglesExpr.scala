package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct k-word shingles as a native codegen expression.
  *
  * The declarative formulation (`array_distinct(transform(sequence(...)))`)
  * is built from higher-order functions, which are CodegenFallback —
  * interpreted, one closure call per shingle — and it sits in the inner
  * loop of every text-dedup operator. This compiles to a single helper
  * call producing the shingle array in one pass.
  *
  * Semantics identical to the declarative version (and the DuckDB
  * oracle): split on single spaces, join k consecutive words with a
  * space, keep first occurrence order, drop duplicates; fewer than k
  * words → empty array.
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("word_shingles requires (string, k>=1)")

  override def dataType: DataType = ArrayType(DataTypes.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordShingles.shingle(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingles.shingle($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  private val Space = UTF8String.fromString(" ")

  /** Called from generated code: distinct k-shingles, first-occurrence order. */
  def shingle(text: UTF8String, k: Int): ArrayData = {
    val words = text.split(Space, -1)
    if (words.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](words.length * 2)
    var i = 0
    val n = words.length - k + 1
    while (i < n) {
      seen.add(gram(words, i, k))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }

  /** Called from generated code: ALL k-grams in position order (with
    * repeats) — the counting variant for n-gram frequency analysis. */
  def ngrams(text: UTF8String, k: Int): ArrayData = {
    val words = text.split(Space, -1)
    if (words.length < k) return new GenericArrayData(Array.empty[Any])
    val n = words.length - k + 1
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = gram(words, i, k); i += 1 }
    new GenericArrayData(out)
  }

  private def gram(words: Array[UTF8String], i: Int, k: Int): UTF8String = {
    var s = words(i)
    var j = 1
    while (j < k) { s = UTF8String.concat(s, Space, words(i + j)); j += 1 }
    s
  }

  /** SQL builders (injected by GraftExtensions). */
  val shinglesBuilder: Seq[Expression] => Expression =
    exprs => WordShingles(exprs.head, exprs(1).eval().asInstanceOf[Int])
  val ngramsBuilder: Seq[Expression] => Expression =
    exprs => WordNgrams(exprs.head, exprs(1).eval().asInstanceOf[Int])
}

/** Non-distinct variant of [[WordShingles]]: every k-gram in position
  * order, for frequency counting. */
case class WordNgrams(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("word_ngrams requires (string, k>=1)")

  override def dataType: DataType = ArrayType(DataTypes.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordShingles.ngrams(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingles.ngrams($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}
