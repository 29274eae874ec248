package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DataTypes, LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document token statistics in one pass over the document's
  * tokens, as one native codegen expression returning a struct:
  *
  *  - `n_tokens`, `n_types`, `n_hapax` (types seen once) and
  *    `rep_pairs` = Σ c(c−1) over the type counts c;
  *  - `n_2grams` / `d_2grams` and `n_3grams` / `d_3grams`: word n-gram
  *    occurrences (max(0, n−k+1)) and distinct n-grams.
  *
  * Tokens are `split(text, " ")` with limit −1 (the same
  * `UTF8String.split` call Spark's `split` makes), so empty tokens from
  * leading, trailing or doubled spaces count, and the empty text is one
  * empty token. Every field is an exact integer, so a ratio built from
  * it is one IEEE division, the same in every engine. One call per
  * document, in the task that reads it: no exploded token stream and no
  * shuffle keyed on the document.
  */
case class TokenStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("token_stats requires a string")

  override def dataType: DataType = TokenStats.schema

  override def nullSafeEval(input: Any): Any =
    TokenStats.stats(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.TokenStats.stats($t)")

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

object TokenStats {
  private val Space = UTF8String.fromString(" ")

  val schema: StructType = Seq("n_tokens", "n_types", "n_hapax", "rep_pairs",
    "n_2grams", "d_2grams", "n_3grams", "d_3grams")
    .foldLeft(new StructType())(_.add(_, LongType, nullable = false))

  /** Called from generated code. A type is an id in first-seen order; a
    * bigram is its (id, id) pair packed into a long and numbered in
    * turn, and a trigram is its (bigram number, id) pair — distinct
    * token tuples map to distinct keys at any vocabulary size. */
  def stats(text: UTF8String): InternalRow = {
    val toks = text.split(Space, -1)
    val n = toks.length
    val typeIds = new java.util.HashMap[UTF8String, Integer](n * 2)
    val tid = new Array[Int](n)
    val counts = new Array[Long](n)
    var i = 0
    while (i < n) {
      val prev = typeIds.putIfAbsent(toks(i), typeIds.size)
      val id = if (prev == null) typeIds.size - 1 else prev.intValue
      tid(i) = id
      counts(id) += 1
      i += 1
    }
    val types = typeIds.size
    var hapax = 0L
    var repPairs = 0L
    i = 0
    while (i < types) {
      val c = counts(i)
      if (c == 1) hapax += 1
      repPairs += c * (c - 1)
      i += 1
    }
    val n2 = math.max(0, n - 1)
    val bigramIds = new java.util.HashMap[java.lang.Long, Integer](n2 * 2)
    val bid = new Array[Int](n2)
    i = 0
    while (i < n2) {
      val prev = bigramIds.putIfAbsent(pack(tid(i), tid(i + 1)), bigramIds.size)
      bid(i) = if (prev == null) bigramIds.size - 1 else prev.intValue
      i += 1
    }
    val n3 = math.max(0, n - 2)
    val trigrams = new java.util.HashSet[java.lang.Long](n3 * 2)
    i = 0
    while (i < n3) { trigrams.add(pack(bid(i), tid(i + 2))); i += 1 }
    new GenericInternalRow(Array[Any](n.toLong, types.toLong, hapax, repPairs,
      n2.toLong, bigramIds.size.toLong, n3.toLong, trigrams.size.toLong))
  }

  private def pack(hi: Int, lo: Int): java.lang.Long =
    (hi.toLong << 32) | (lo & 0xFFFFFFFFL)

  /** SQL builder (injected by GraftExtensions): graft_token_stats(text). */
  val builder: Seq[Expression] => Expression = exprs => TokenStats(exprs.head)

  def column(text: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_token_stats", text)
}
