package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunk sha2 keys as ONE native codegen map pass —
  * the r15 optimization of `dd_chunk_dedup`'s chunk derivation.
  *
  * The original plan exploded every token, ran a doc-keyed WINDOW
  * (3 lags + a running cut-flag sum), grouped to chunk bounds, joined
  * the bounds back to the document row and re-sliced the text — the
  * token stream crossed a shuffle once and the window sorted it, for a
  * value that is a pure function of the document alone. This expression
  * computes the identical chunk set per row inside whole-stage codegen:
  * zero exchanges, zero windows, and at 100 TB the token stream never
  * leaves the scan task.
  *
  * Semantics pinned to the original (ChunkHashesSpec asserts equality
  * against the window-based derivation):
  *   - tokens = split on single spaces (-1: trailing empties kept);
  *   - position t ≥ ChunkGram starts a new chunk iff the rolling hash
  *     of the ChunkGram preceding tokens (joined by one space) falls in
  *     the cut residue class (h % ChunkMask == 0, [[RollingHash.hash]]);
  *   - a chunk's key is the sha2-256 hex of its tokens joined by one
  *     space — hashed HERE, so only 64-hex keys ever leave the row.
  */
case class ChunkHashes(child: Expression, gram: Int, mask: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType && gram >= 1 && mask >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "chunk_hashes requires (string, gram>=1, mask>=1)")

  override def dataType: DataType =
    ArrayType(DataTypes.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ChunkHashes.chunks(input.asInstanceOf[UTF8String], gram, mask)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ChunkHashes.chunks($c, $gram, ${mask}L)")

  override protected def withNewChildInternal(newChild: Expression): ChunkHashes =
    copy(child = newChild)
}

object ChunkHashes {
  private val Space = UTF8String.fromString(" ")

  /** Called from generated code: sha2-256 hex of each content-defined
    * chunk, in document order (repeats preserved). */
  def chunks(text: UTF8String, gram: Int, mask: Long): ArrayData = {
    val words = text.split(Space, -1)
    val n = words.length
    val out = new java.util.ArrayList[Any](4)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var start = 0
    var t = gram
    while (t <= n) {
      // cut BEFORE position t when the trailing gram's hash matches;
      // t == n flushes the final chunk
      val cut = t == n || {
        var g = words(t - gram)
        var j = t - gram + 1
        while (j < t) { g = UTF8String.concat(g, Space, words(j)); j += 1 }
        RollingHash.hash(g) % mask == 0
      }
      if (cut) {
        var s = words(start)
        var j = start + 1
        while (j < t) { s = UTF8String.concat(s, Space, words(j)); j += 1 }
        out.add(UTF8String.fromString(hex(md.digest(s.getBytes))))
        md.reset()
        start = t
      }
      t += 1
    }
    if (start < n || n == 0) {
      // trailing chunk after the last cut (or the empty-text chunk)
      var s = if (n == 0) UTF8String.fromString("") else words(start)
      var j = start + 1
      while (j < n) { s = UTF8String.concat(s, Space, words(j)); j += 1 }
      out.add(UTF8String.fromString(hex(md.digest(s.getBytes))))
    }
    new GenericArrayData(out.toArray)
  }

  private def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    var i = 0
    while (i < b.length) {
      sb.append(Character.forDigit((b(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(b(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  // gram/mask must be foldable integral literals: pattern-match and
  // raise a clear analysis-time error instead of the ClassCastException/
  // NPE a raw eval().asInstanceOf would throw on a column-valued, long-
  // typed-where-int-expected, or NULL argument (ADVICE r15).
  private def foldableLong(e: Expression, name: String): Long = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"graft_chunk_hashes: $name must be a foldable integer literal")
    e.eval() match {
      case i: java.lang.Integer => i.longValue()
      case l: java.lang.Long => l.longValue()
      case other =>
        throw new IllegalArgumentException(
          s"graft_chunk_hashes: $name must be a non-null integer literal, " +
            s"got ${Option(other).map(_.getClass.getSimpleName).getOrElse("NULL")}")
    }
  }

  val builder: Seq[Expression] => Expression = exprs =>
    ChunkHashes(exprs.head,
      foldableLong(exprs(1), "gram").toInt,
      foldableLong(exprs(2), "mask"))

  def chunkHashesCol(c: Column, gram: Int, mask: Long): Column =
    org.apache.spark.sql.functions.call_function("graft_chunk_hashes", c,
      org.apache.spark.sql.functions.lit(gram),
      org.apache.spark.sql.functions.lit(mask))
}
