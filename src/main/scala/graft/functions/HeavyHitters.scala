package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Misra-Gries frequent-items sketch as a mergeable aggregate:
  * `graft_heavy_hitters(item BIGINT, k INT)` keeps at most `k` counters
  * and returns candidate `(id, est)` pairs with the classic guarantee
  * `true_count - N/(k+1) <= est <= true_count` — so EVERY item whose
  * true frequency exceeds `N/(k+1)` is in the output, regardless of
  * input order or partitioning.
  *
  * The 100 TB story: an exact `GROUP BY item` of a high-cardinality
  * column shuffles every distinct item; this sketch is one pass with a
  * k-entry buffer per partition, partial buffers merge map-side like a
  * sum (merge subtracts the (k+1)-th largest count — Agarwal et al.'s
  * mergeable-summaries construction, which preserves the error bound),
  * and the candidate set is small enough to broadcast for an exact
  * verification count afterwards (two cheap passes instead of one
  * unbounded shuffle).
  */
case class HeavyHitters(
    item: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgBuffer] {

  override def children: Seq[Expression] = Seq(item)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(HeavyHitters.entryType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (item.dataType == LongType && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"heavy_hitters requires (bigint, k>=1); got (${item.dataType}, $k)")

  override def createAggregationBuffer(): MgBuffer = new MgBuffer(k)

  override def update(buf: MgBuffer, input: InternalRow): MgBuffer = {
    val v = item.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], 1L)
    buf
  }

  override def merge(buf: MgBuffer, other: MgBuffer): MgBuffer = {
    buf.mergeFrom(other)
    buf
  }

  /** Candidates sorted (est DESC, id ASC). */
  override def eval(buf: MgBuffer): Any =
    new GenericArrayData(buf.entriesSorted.map { case (id, est) =>
      InternalRow(id, est)
    }.toArray[Any])

  override def serialize(buf: MgBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): MgBuffer = MgBuffer.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(offset: Int): HeavyHitters =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HeavyHitters =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HeavyHitters =
    copy(item = newChildren(0))
}

object HeavyHitters {
  val entryType: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("est", LongType, nullable = false)))

  /** k must be a foldable integer literal — pattern-matched here so a
    * non-literal, non-integral, or NULL k raises the same friendly
    * message as checkInputDataTypes instead of an opaque
    * ClassCastException/NPE at plan time. */
  val builder: Seq[Expression] => Expression = exprs => {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def fail(got: String): Nothing =
      throw new IllegalArgumentException(
        s"heavy_hitters requires (bigint, k>=1) with k a literal INT; got $got")
    exprs(1) match {
      case Literal(v: Int, IntegerType) if v >= 1 => HeavyHitters(exprs(0), v)
      case Literal(v: Long, LongType) if v >= 1L && v <= Int.MaxValue =>
        HeavyHitters(exprs(0), v.toInt)
      case Literal(null, _) => fail("k = NULL")
      case l: Literal => fail(s"k = $l")
      case e => fail(s"non-literal k: ${e.sql}")
    }
  }
}

/** At most k (item → count) counters, never storing a non-positive
  * count. `add` is textbook Misra-Gries: tracked item → increment;
  * room → insert; otherwise decrement EVERY counter by one and consume
  * the arrival (amortized O(1): each decrement cancels one prior
  * increment). `mergeFrom` sums counts then truncates back to k by
  * subtracting the (k+1)-th largest count from every counter —
  * Agarwal et al.'s mergeable construction, same error bound under any
  * merge tree. */
final class MgBuffer(k: Int) {
  private[functions] val counts = new java.util.HashMap[Long, Long](k * 2)

  def add(id: Long, c: Long): Unit = {
    val cur = counts.getOrDefault(id, 0L)
    if (cur != 0L) counts.put(id, cur + c)
    else if (counts.size() < k) counts.put(id, c)
    else {
      // full + untracked: pair one unit of the arrival against a global
      // decrement round until it is consumed or a slot frees up
      var remaining = c
      while (remaining > 0L && counts.size() >= k &&
          counts.getOrDefault(id, 0L) == 0L) {
        decrementAll(1L)
        remaining -= 1L
      }
      if (remaining > 0L) add(id, remaining)
    }
  }

  private def decrementAll(dec: Long): Unit = {
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - dec
      if (nv <= 0L) it.remove() else e.setValue(nv)
    }
  }

  def mergeFrom(other: MgBuffer): Unit = {
    val it = other.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      counts.put(e.getKey, counts.getOrDefault(e.getKey, 0L) + e.getValue)
    }
    if (counts.size() > k) {
      // subtract the (k+1)-th largest count from all, keep positive
      val vals = new Array[Long](counts.size())
      val vit = counts.values().iterator()
      var i = 0
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - k - 1)
      decrementAll(cut)
    }
  }

  def entriesSorted: Seq[(Long, Long)] = {
    val b = Seq.newBuilder[(Long, Long)]
    val it = counts.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
    b.result().sortBy { case (id, est) => (-est, id) }
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + counts.size() * 16)
    bb.putInt(counts.size())
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey); bb.putLong(e.getValue)
    }
    bb.array()
  }
}

object MgBuffer {
  def fromBytes(k: Int, bytes: Array[Byte]): MgBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new MgBuffer(k)
    val n = bb.getInt
    var i = 0
    // entries re-enter through the map directly (counts are already MG
    // counters, not raw increments)
    while (i < n) { buf.add(bb.getLong, bb.getLong); i += 1 }
    buf
  }
}
