package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded-heap top-k-per-group aggregate: keeps the k best
  * (score DESC, id ASC) pairs per group.
  *
  * The window formulation (`row_number().over(partitionBy(g).orderBy(...))
  * <= k`) sorts EVERY candidate row of a partition; this aggregate is
  * O(n log k) with a k-entry buffer, and partial heaps merge map-side
  * before the shuffle — so per-group top-k costs one partial aggregation
  * like any sum, which is the difference between feasible and not at
  * 100 TB candidate volumes.
  *
  * Output: array<struct<score double, id bigint>> sorted best-first.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(TopKByScore.entryType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && id.dataType == LongType && k >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_k_by_score requires (double, bigint, k>=1); got " +
        s"(${score.dataType}, ${id.dataType}, $k)")

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  /** Null-scored candidates are EXCLUDED (a row whose similarity is
    * unknown cannot be ranked) — a deliberate narrowing vs the window
    * formulation's NULLS LAST; callers guaranteeing non-null scores
    * (as graft's ANN queries do) see identical results. */
  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    other.foreach((s, i) => buf.insert(s, i))
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val sorted = buf.sortedBestFirst
    new GenericArrayData(sorted.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TopKBuffer = TopKBuffer.fromBytes(k, bytes)

  override def withNewMutableAggBufferOffset(offset: Int): TopKByScore =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKByScore =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKByScore {
  val entryType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))

  /** SQL builder (injected by GraftExtensions). */
  val builder: Seq[Expression] => Expression =
    exprs => TopKByScore(exprs(0), exprs(1), exprs(2).eval().asInstanceOf[Int])
}

/** Fixed-capacity worst-first binary heap over (score, id): evicts the
  * worst entry when a better one arrives. "Better" = higher score,
  * ties to the smaller id (matching ORDER BY score DESC, id ASC). */
final class TopKBuffer(k: Int) {
  private val scores = new Array[Double](k)
  private val ids = new Array[Long](k)
  private var n = 0

  /* a is WORSE than b (heap root = worst kept entry). Score comparison
   * matches SQL engines (Spark nanSafeCompare / DuckDB ORDER BY): NaN
   * ranks above everything, -0.0 equals 0.0; ties fall to larger id. */
  private def cmpScore(a: Double, b: Double): Int =
    java.lang.Double.compare(a + 0.0, b + 0.0) // +0.0 normalizes -0.0
  private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
    val c = cmpScore(sa, sb)
    c < 0 || (c == 0 && ia > ib)
  }

  def insert(s: Double, i: Long): Unit = {
    if (n < k) {
      scores(n) = s; ids(n) = i; n += 1
      siftUp(n - 1)
    } else if (worse(scores(0), ids(0), s, i)) {
      scores(0) = s; ids(0) = i
      siftDown(0)
    }
  }

  private def siftUp(start: Int): Unit = {
    var c = start
    while (c > 0) {
      val p = (c - 1) / 2
      if (worse(scores(c), ids(c), scores(p), ids(p))) { swap(c, p); c = p }
      else return
    }
  }

  private def siftDown(start: Int): Unit = {
    var p = start
    while (true) {
      val l = 2 * p + 1
      val r = l + 1
      var worst = p
      if (l < n && worse(scores(l), ids(l), scores(worst), ids(worst))) worst = l
      if (r < n && worse(scores(r), ids(r), scores(worst), ids(worst))) worst = r
      if (worst == p) return
      swap(p, worst)
      p = worst
    }
  }

  private def swap(a: Int, b: Int): Unit = {
    val ts = scores(a); scores(a) = scores(b); scores(b) = ts
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  def foreach(f: (Double, Long) => Unit): Unit = {
    var i = 0
    while (i < n) { f(scores(i), ids(i)); i += 1 }
  }

  def sortedBestFirst: Seq[(Double, Long)] =
    (0 until n).map(i => (scores(i), ids(i)))
      .sortWith { case ((sa, ia), (sb, ib)) => worse(sb, ib, sa, ia) }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + n * 16)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(scores(i)); bb.putLong(ids(i)); i += 1 }
    bb.array()
  }
}

object TopKBuffer {
  def fromBytes(k: Int, bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new TopKBuffer(k)
    val n = bb.getInt
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }
}
