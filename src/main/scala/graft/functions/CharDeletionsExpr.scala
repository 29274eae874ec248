package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes}
import org.apache.spark.unsafe.types.UTF8String

/** Deletion neighborhood of a string up to `depth` removals as a native
  * codegen expression: the string itself plus every variant with 1..depth
  * characters removed, distinct, breadth-first first-occurrence order.
  *
  * This is the SymSpell blocking key set, generalized to the standard
  * maxEdit = 2 configuration: any two strings within Levenshtein
  * distance d share an element of their depth-d neighborhoods (each
  * side deletes the chars the other lacks — equality, insertions,
  * deletions, and substitutions all reduce to a common subsequence of
  * ≤ d removals per side). So a fuzzy join becomes ONE equi-join on
  * the neighborhood element (recall 1 at the configured distance), no
  * prefix blocking, no mega-buckets from shared prefixes; admitted
  * near-misses are removed by the exact levenshtein verification on
  * candidates. The declarative formulation
  * (`array_distinct(transform(sequence(...)))`, nested per depth) is
  * CodegenFallback (interpreted closure per variant); this compiles to
  * a single helper call. Neighborhood size is Θ(L^depth/depth!) — at
  * depth 2 a 20-char key yields ~211 elements, still O(1) per row.
  */
case class CharDeletions(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DataTypes.StringType, DataTypes.IntegerType) if right.foldable =>
        val d = right.eval().asInstanceOf[Number].intValue()
        if (d >= 1 && d <= 3) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"char_deletions depth must be in [1,3], got $d")
      case _ => TypeCheckResult.TypeCheckFailure(
        "char_deletions requires (string, foldable int)")
    }

  override def dataType: DataType = ArrayType(DataTypes.StringType, containsNull = false)

  override def nullSafeEval(input: Any, depth: Any): Any =
    CharDeletions.neighborhood(input.asInstanceOf[UTF8String],
      depth.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, d) => s"graft.functions.CharDeletions.neighborhood($c, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharDeletions =
    copy(left = newLeft, right = newRight)
}

object CharDeletions {

  /** Called from generated code: breadth-first deletion closure — {s},
    * then every 1-deletion, then every 2-deletion, …, distinct in
    * first-occurrence order (deletions enumerated left to right at
    * each level). Code-point based (matches DuckDB substr character
    * semantics). */
  def neighborhood(s: UTF8String, depth: Int): ArrayData = {
    val seen = new java.util.LinkedHashSet[UTF8String](s.numChars() * 4)
    seen.add(s)
    var frontier: java.util.ArrayList[UTF8String] = new java.util.ArrayList()
    frontier.add(s)
    var d = 0
    while (d < depth) {
      val next = new java.util.ArrayList[UTF8String](frontier.size * 8)
      val it = frontier.iterator()
      while (it.hasNext) {
        val f = it.next()
        val n = f.numChars()
        var i = 0
        while (i < n) {
          val del = UTF8String.concat(f.substring(0, i), f.substring(i + 1, n))
          if (seen.add(del)) next.add(del)
          i += 1
        }
      }
      frontier = next
      d += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }

  /** 1-or-2-arg SQL surface: `graft_char_deletions(s)` keeps the
    * original depth-1 meaning; `graft_char_deletions(s, d)` is the
    * parameterized form. */
  val builder: Seq[Expression] => Expression = exprs =>
    if (exprs.size == 1) CharDeletions(exprs.head, Literal(1))
    else CharDeletions(exprs(0), exprs(1))

  /** Column-level API over `graft_char_deletions`. */
  def neighborhoodCol(str: org.apache.spark.sql.Column,
      depth: Int = 1): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_char_deletions", str,
      org.apache.spark.sql.functions.lit(depth))
}
