package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Width-parameterized SimHash: `lanes` independent 64-bit SimHash
  * signatures of the same token set, returned as `array<bigint>`. One
  * lane is the 64-bit SimHash, whose fixed signature saturates the
  * 8-block candidate index near n ≈ 1M documents (256 bucket values
  * per 8-bit block); more lanes are the scale path.
  *
  * Bit j of the width-`64·lanes` signature votes with the PORTABLE
  * hash family ([[vote]]): the word's polynomial rolling hash
  * ([[RollingHash]] — the oracled txt_fingerprint arithmetic) mixed
  * with the bit coordinate through the [[HyperplaneSigs]] quadratic
  * integer chain. Pure bounded integer arithmetic end to end, so ANY
  * engine (the DuckDB oracle included) regenerates every signature
  * bit exactly — which the former per-word xxhash64 never allowed
  * (r14 VERDICT #1: dd_simhash was rows-only for exactly that
  * reason). Lane 0 is the same at every width (same tokens, same
  * coordinates) and lanes are decorrelated by the quadratic mix. Width = 64·lanes bits; with the block count held at
  * 8 (the d+1 = 8 pigeonhole for Hamming ≤ 7), block keys widen to
  * 8·lanes bits, keeping expected bucket population n/2^(8·lanes)
  * flat as the corpus grows — the `width ≈ blocks · log₂(n/targetPop)`
  * rule (SURVEY §5; Manku et al., WWW'07, the web-scale regime where
  * the Hamming budget is absolute and the signature grows to keep the
  * index sparse).
  *
  * A pure per-row projection (one vote pass
  * over distinct tokens, all lanes in one loop) — no shuffle; at 100 TB
  * the signature stage is a map over the corpus.
  */
case class SimHashWide(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DataTypes.StringType, DataTypes.IntegerType) if right.foldable =>
        val lanes = right.eval().asInstanceOf[Number].intValue()
        if (lanes >= 1 && lanes <= 16) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"simhash_wide lanes must be in [1,16], got $lanes")
      case _ => TypeCheckResult.TypeCheckFailure(
        "simhash_wide requires (string, foldable int)")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(text: Any, lanes: Any): Any =
    SimHashWide.hash(text.asInstanceOf[UTF8String],
      lanes.asInstanceOf[Number].intValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, l) => s"graft.functions.SimHashWide.hash($t, $l)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHashWide =
    copy(left = newLeft, right = newRight)
}

object SimHashWide {
  private val Space = UTF8String.fromString(" ")

  /** Flat-coordinate stride per word: bit j of a word's vote stream
    * sits at `base·1024 + j`, and 1024 = 64 bits × the max 16 lanes —
    * coordinates of distinct (word, bit) pairs never collide. With
    * base < 10⁹+7 the product stays < 2⁴⁰, far inside the
    * [[HyperplaneSigs.HashMod]] chain's overflow-free envelope. */
  val BitStride = 1024L

  /** Portable ±1 vote for bit `j` of a word with rolling-hash `base`
    * — the [[HyperplaneSigs.planeSign]] quadratic-integer chain on the
    * flat coordinate, returned as an Int vote. The single arithmetic
    * definition the DuckDB oracle unrolls as SQL. */
  def vote(base: Long, j: Int): Int = {
    val m = HyperplaneSigs.HashMod
    val idx = base * BitStride + j
    val h1 = ((idx % m) * HyperplaneSigs.HashMult) % m
    val h2 = (h1 * h1 + HyperplaneSigs.MixAdd) % m
    val h3 = (h2 * HyperplaneSigs.HashMult) % m
    if (h3 < m / 2) 1 else -1
  }

  /** Executor-wide word→sign-bits memo. A word's vote pattern is a
    * pure function of (word, lanes), and the corpus vocabulary is
    * Heaps-law metadata-sized (the applyBpe partition-memo argument),
    * so each executor pays the `64·lanes` quadratic mixes once per
    * DISTINCT word and every repeat costs 64·lanes bit-tests. Bounded:
    * past [[MemoMax]] entries new words compute uncached (an
    * adversarially diverse corpus degrades to the memo-free cost, never
    * to unbounded heap). Values are packed sign bits, one long per
    * lane. */
  private val MemoMax = 1 << 20
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  private[functions] def signBits(w: UTF8String, lanes: Int): Array[Long] = {
    val key = w.toString
    val cached = memo.get(key)
    // a narrower cached entry (smaller lanes) is recomputed and
    // replaced; a wider one is reused (lane ℓ bits are lane-count-free)
    if (cached != null && cached.length >= lanes) return cached
    val base = RollingHash.hash(w)
    val bits = new Array[Long](lanes)
    var j = 0
    while (j < 64 * lanes) {
      if (vote(base, j) > 0) bits(j >> 6) |= (1L << (j & 63))
      j += 1
    }
    if (memo.size < MemoMax) memo.put(key, bits)
    bits
  }

  /** Called from generated code. One pass over distinct tokens; per
    * token, one memoized rolling hash + `64·lanes` quadratic bit
    * mixes (bit-tests on repeats). */
  def hash(text: UTF8String, lanes: Int): ArrayData = {
    val words = text.split(Space, -1)
    val seen = new java.util.HashSet[UTF8String](words.length * 2)
    val bits = 64 * lanes
    val votes = new Array[Int](bits)
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (seen.add(w)) {
        val sb = signBits(w, lanes)
        var j = 0
        while (j < bits) {
          votes(j) += (if ((sb(j >> 6) & (1L << (j & 63))) != 0L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    val sig = new Array[Long](lanes)
    var lane = 0
    while (lane < lanes) {
      var acc = 0L
      val base = lane * 64
      var j = 0
      while (j < 64) { if (votes(base + j) > 0) acc |= (1L << j); j += 1 }
      sig(lane) = acc
      lane += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** SQL builder (injected by GraftExtensions). */
  val builder: Seq[Expression] => Expression =
    exprs => SimHashWide(exprs(0), exprs(1))
}
