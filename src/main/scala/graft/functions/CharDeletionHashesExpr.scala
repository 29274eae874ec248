package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** XXH64 hashes of the deletion neighborhood of a string up to `depth`
  * removals — the [[CharDeletions]] blocking-key set collapsed to 8-byte
  * join keys WITHOUT materializing any variant string.
  *
  * [[graft.operators.FuzzyMatch]]'s candidate join only ever consumes
  * `xxhash64(variant)`: the variant text itself is never compared (the
  * exact levenshtein verify re-reads the ORIGINAL names). Materializing
  * ~L²/2 `UTF8String`s per row through a breadth-first closure (three
  * allocations per enumerated variant, ~900/row at L=18) just to hash
  * and discard them is the dominant per-row cost of the depth-2 path.
  * This expression instead enumerates deleted code-point POSITION
  * subsets {i} / {i,j} / {i,j,k} of the original string directly,
  * copies the surviving byte ranges into one reusable scratch buffer,
  * and emits `XXH64(bytes, seed=42)` — one long per variant, zero
  * string allocations, a primitive `UnsafeArrayData` result.
  *
  * A hash collision can only ADD a candidate pair, which the exact
  * levenshtein verification rejects — recall and precision are
  * unchanged vs the string-keyed join (same argument as hashing the
  * materialized variants, which the depth-2 path already did).
  * Duplicate variants (deleting either of two equal adjacent chars)
  * dedup by hash value, first-occurrence order, matching
  * `array_distinct` semantics on the string form.
  */
case class CharDeletionHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DataTypes.StringType, DataTypes.IntegerType) if right.foldable =>
        val d = right.eval().asInstanceOf[Number].intValue()
        if (d >= 1 && d <= 3) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"char_deletion_hashes depth must be in [1,3], got $d")
      case _ => TypeCheckResult.TypeCheckFailure(
        "char_deletion_hashes requires (string, foldable int)")
    }

  override def dataType: DataType = ArrayType(DataTypes.LongType, containsNull = false)

  override def nullSafeEval(input: Any, depth: Any): Any =
    CharDeletionHashes.hashes(input.asInstanceOf[UTF8String],
      depth.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, d) => s"graft.functions.CharDeletionHashes.hashes($c, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharDeletionHashes =
    copy(left = newLeft, right = newRight)
}

object CharDeletionHashes {

  private val Seed = 42L

  /** Hard cap on the enumerated neighborhood (4.2M variants ≈ 32 MB of
    * keys + a 64 MB dedup table) — generous for any blocking-key use
    * (FuzzyMatch's depth-2 names emit ~10² variants) while keeping a
    * hostile long input a clear error instead of an overflow. */
  val MaxNeighborhood: Long = 1L << 22

  /** Variant code-point length occupies the top 16 bits of a PACKED
    * key (see [[packed]]); lengths beyond 15 bits saturate at the cap
    * so the sign bit stays clear — equal strings still pack equal (a
    * cap collision can only add a candidate), and length-bounds
    * filters must `least()` their bounds against the same cap. */
  val LenCap = 0x7FFF

  /** Called from generated code. Enumerates {s} then all ≤depth-element
    * deleted-position subsets in lexicographic position order (matching
    * the breadth-first left-to-right order of [[CharDeletions]] up to
    * duplicate-string collapse), hashing each variant's bytes from one
    * scratch copy. Code-point positions (UTF-8 boundary scan), so
    * multi-byte text deletes whole characters, like DuckDB substr. */
  def hashes(s: UTF8String, depth: Int): ArrayData =
    enumerate(s, depth, pack = false)

  /** The packed form: `min(variantLen, 0x7FFF) << 48 | hash₄₈` — the
    * join key and the variant's code-point length in ONE long, so a
    * blocking join can filter variants to lengths the other side can
    * actually produce (`shiftright(vh, 48)`) BEFORE the exchange.
    * Equal variant strings have equal lengths, so folding the length
    * into the key changes no match; truncating the hash to 48 bits
    * only adds collision candidates, which the exact verify rejects. */
  def packed(s: UTF8String, depth: Int): ArrayData =
    enumerate(s, depth, pack = true)

  private def enumerate(s: UTF8String, depth: Int, pack: Boolean): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    // code-point start offsets
    var n = 0
    var i = 0
    while (i < nb) { if ((bytes(i) & 0xC0) != 0x80) n += 1; i += 1 }
    val off = new Array[Int](n + 1)
    var p = 0
    i = 0
    while (i < nb) { if ((bytes(i) & 0xC0) != 0x80) { off(p) = i; p += 1 }; i += 1 }
    off(n) = nb

    // Neighborhood size in LONG arithmetic with a fail-fast cap: the
    // function is SQL-registered and callable on arbitrary strings, and
    // Int math here overflows negative at n ≳ 65k (depth 2) / n ≳ 1.8k
    // (depth 3) — a NegativeArraySizeException at best, an under-sized
    // open-addressing table whose probe loop never terminates at worst.
    // Each successive term is only accumulated while still under the
    // cap, so the cubic term is only computed for n ≤ ~2.9k and no
    // intermediate product can overflow Long.
    var maxOutL = 1L + (if (depth >= 1) n.toLong else 0L)
    if (depth >= 2 && maxOutL <= MaxNeighborhood)
      maxOutL += n.toLong * (n - 1) / 2
    if (depth >= 3 && maxOutL <= MaxNeighborhood)
      maxOutL += n.toLong * (n - 1) * (n - 2) / 6
    if (maxOutL > MaxNeighborhood)
      throw new IllegalArgumentException(
        s"char_deletion_hashes: deletion neighborhood of a $n-code-point " +
          s"string at depth $depth exceeds $MaxNeighborhood variants; " +
          "shorten the input (blocking keys are meant for name-length " +
          "strings) or lower the depth")
    val maxOut = maxOutL.toInt
    val out = new Array[Long](maxOut)
    // open-addressed dedup set sized to the next power of two ≥ 2*maxOut
    var cap = 16
    while (cap < maxOut * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val mask = cap - 1
    var outN = 0

    @inline def add(h: Long): Unit = {
      var slot = (h ^ (h >>> 32)).toInt & mask
      while (used(slot) && table(slot) != h) slot = (slot + 1) & mask
      if (!used(slot)) {
        used(slot) = true; table(slot) = h
        out(outN) = h; outN += 1
      }
    }

    @inline def packOf(h: Long, vlen: Int): Long =
      if (pack) (Math.min(vlen, LenCap).toLong << 48) | (h & 0xFFFFFFFFFFFFL)
      else h

    val scratch = new Array[Byte](nb)
    // copy bytes of s minus code points a (<b (<c)); negative = unused
    @inline def hashDel(a: Int, b: Int, c: Int, vlen: Int): Long = {
      var w = 0
      var cp = 0
      while (cp < n) {
        if (cp != a && cp != b && cp != c) {
          var bi = off(cp)
          val be = off(cp + 1)
          while (bi < be) { scratch(w) = bytes(bi); w += 1; bi += 1 }
        }
        cp += 1
      }
      packOf(XXH64.hashUnsafeBytes(scratch, Platform.BYTE_ARRAY_OFFSET, w, Seed),
        vlen)
    }

    add(packOf(XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, nb, Seed), n))
    if (depth >= 1) {
      var a = 0
      while (a < n) { add(hashDel(a, -1, -1, n - 1)); a += 1 }
    }
    if (depth >= 2) {
      var a = 0
      while (a < n - 1) {
        var b = a + 1
        while (b < n) { add(hashDel(a, b, -1, n - 2)); b += 1 }
        a += 1
      }
    }
    if (depth >= 3) {
      var a = 0
      while (a < n - 2) {
        var b = a + 1
        while (b < n - 1) {
          var c = b + 1
          while (c < n) { add(hashDel(a, b, c, n - 3)); c += 1 }
          b += 1
        }
        a += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (outN == out.length) out else java.util.Arrays.copyOf(out, outN))
  }

  val builder: Seq[Expression] => Expression = exprs =>
    if (exprs.size == 1) CharDeletionHashes(exprs.head, Literal(1))
    else CharDeletionHashes(exprs(0), exprs(1))

  val packedBuilder: Seq[Expression] => Expression = exprs =>
    if (exprs.size == 1) CharDeletionHashLens(exprs.head, Literal(1))
    else CharDeletionHashLens(exprs(0), exprs(1))

  def hashesCol(str: org.apache.spark.sql.Column,
      depth: Int = 1): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_char_deletion_hashes",
      str, org.apache.spark.sql.functions.lit(depth))

  /** Packed (length ≪ 48 | hash₄₈) neighborhood keys — see [[packed]]. */
  def packedCol(str: org.apache.spark.sql.Column,
      depth: Int = 1): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_char_deletion_hashlens",
      str, org.apache.spark.sql.functions.lit(depth))
}

/** [[CharDeletionHashes]] with the variant's code-point length packed
  * into the top 16 bits of each key — see
  * [[CharDeletionHashes.packed]]. */
case class CharDeletionHashLens(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DataTypes.StringType, DataTypes.IntegerType) if right.foldable =>
        val d = right.eval().asInstanceOf[Number].intValue()
        if (d >= 1 && d <= 3) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"char_deletion_hashlens depth must be in [1,3], got $d")
      case _ => TypeCheckResult.TypeCheckFailure(
        "char_deletion_hashlens requires (string, foldable int)")
    }

  override def dataType: DataType = ArrayType(DataTypes.LongType, containsNull = false)

  override def nullSafeEval(input: Any, depth: Any): Any =
    CharDeletionHashes.packed(input.asInstanceOf[UTF8String],
      depth.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (c, d) => s"graft.functions.CharDeletionHashes.packed($c, $d)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharDeletionHashLens =
    copy(left = newLeft, right = newRight)
}
