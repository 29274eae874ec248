package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** The k-means assignment step as one native codegen expression:
  * `graft_nearest_centroid(e, centroids, cells)` is the struct
  * `(cell, d2)` of the centroid nearest to `e`, where
  *
  *   d2 = (e·e − 2.0·(e·c)) + c·c
  *
  * with every dot product the sequential [[ArrayDotProduct]] sum, so d2
  * is bit-identical to the projection the DuckDB oracles compute.
  * The argmin orders (d2, cell) as Spark's `min` over a struct does:
  * NaN above every number, −0.0 equal to 0.0, and an equal d2 goes to
  * the smaller cell. A null `e` gets the smallest cell and a null d2,
  * as in that aggregate (and in the oracles' `ORDER BY d2, cell`).
  *
  * The centroid matrix and its cell labels are foldable literals (the
  * trained book), read once into the plan's references; c·c is computed
  * once per centroid. Per row there is one e·e and one e·c per
  * centroid, inside whole-stage codegen: no cross join with the book,
  * no n·k rows and no shuffle keyed on the row's id.
  *
  * [[NearestCells]] stays the IVF probe kernel: it ranks by Σ(e−c)²,
  * which the IVF oracles replay.
  */
case class NearestCentroid(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _),
          ArrayType(LongType, _)) if second.foldable && third.foldable &&
          book.length == cells.length =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "nearest_centroid requires (array<double>, foldable array<array<double>>, " +
          "foldable array<bigint> of the same length)")
    }

  override def dataType: DataType = NearestCentroid.schema

  override def nullable: Boolean = true

  @transient private lazy val book: Array[Array[Double]] =
    NearestCells.toMatrix(second.eval().asInstanceOf[ArrayData])
  @transient private lazy val cells: Array[Long] =
    third.eval().asInstanceOf[ArrayData].toLongArray()
  @transient private lazy val norms: Array[Double] =
    book.map(c => NearestCentroid.dot(ArrayData.toArrayData(c), c))

  override def eval(input: InternalRow): Any =
    NearestCentroid.nearest(first.eval(input).asInstanceOf[ArrayData], book, norms, cells)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = first.genCode(ctx)
    val b = ctx.addReferenceObj("book", book, "double[][]")
    val n = ctx.addReferenceObj("norms", norms, "double[]")
    val c = ctx.addReferenceObj("cells", cells, "long[]")
    ev.copy(code = code"""
      ${e.code}
      InternalRow ${ev.value} = graft.functions.NearestCentroid.nearest(
        ${e.isNull} ? null : ${e.value}, $b, $n, $c);
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCentroid =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCentroid {

  val schema: StructType = new StructType()
    .add("cell", LongType, nullable = false)
    .add("d2", DoubleType, nullable = true)

  /** Called from generated code. Null only for an empty book. */
  def nearest(e: ArrayData, book: Array[Array[Double]], norms: Array[Double],
      cells: Array[Long]): InternalRow = {
    if (book.isEmpty) return null
    var best = 0
    if (e == null) {
      var i = 1
      while (i < cells.length) { if (cells(i) < cells(best)) best = i; i += 1 }
      return new GenericInternalRow(Array[Any](cells(best), null))
    }
    val ee = ArrayDotProduct.dot(e, e)
    var bestD = (ee - 2.0 * dot(e, book(0))) + norms(0)
    var i = 1
    while (i < book.length) {
      val d = (ee - 2.0 * dot(e, book(i))) + norms(i)
      val cmp = SQLOrderingUtil.compareDoubles(d, bestD)
      if (cmp < 0 || (cmp == 0 && cells(i) < cells(best))) { best = i; bestD = d }
      i += 1
    }
    new GenericInternalRow(Array[Any](cells(best), bestD))
  }

  /** [[ArrayDotProduct.dot]] with a primitive right side: the same
    * sequential sum and the same length check. */
  private def dot(a: ArrayData, b: Array[Double]): Double = {
    val n = a.numElements()
    if (b.length != n)
      throw new IllegalArgumentException(
        s"dot product requires equal-length arrays: $n vs ${b.length}")
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b(i); i += 1 }
    s
  }

  /** SQL builder (injected by GraftExtensions). */
  val builder: Seq[Expression] => Expression =
    exprs => NearestCentroid(exprs(0), exprs(1), exprs(2))

  /** The nearest of `centroids` (cell label → centroid) to `vec`, as
    * the struct (cell, d2). */
  def column(vec: Column, centroids: Seq[(Long, Seq[Double])]): Column =
    org.apache.spark.sql.functions.call_function("graft_nearest_centroid", vec,
      org.apache.spark.sql.functions.typedLit(centroids.map(_._2)),
      org.apache.spark.sql.functions.typedLit(centroids.map(_._1)))
}
