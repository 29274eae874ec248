package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Indices of the `probes` nearest centroids to an `array<double>`
  * vector (squared euclidean, ties broken by lower index) — the IVF
  * assign/probe step as one native codegen expression.
  *
  * Replaces a typed `Dataset.map` assignment pass: the centroid matrix
  * (a foldable `array<array<double>>` literal — the trained codebook)
  * is materialized ONCE into the plan's references; per row there is
  * only the primitive distance loop, inside whole-stage codegen.
  */
case class NearestCells(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _), IntegerType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "nearest_cells requires (array<double>, foldable array<array<double>>, foldable int)")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val centroids: Array[Array[Double]] =
    NearestCells.toMatrix(second.eval().asInstanceOf[ArrayData])
  @transient private lazy val probes: Int =
    third.eval().asInstanceOf[Number].intValue()

  override def nullSafeEval(v: Any, c: Any, p: Any): Any =
    NearestCells.cells(v.asInstanceOf[ArrayData], centroids, probes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev,
      (v, _, _) => s"graft.functions.NearestCells.cells($v, $ref, $probes)")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCells =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCells {

  def toMatrix(arr: ArrayData): Array[Array[Double]] = {
    val k = arr.numElements()
    val out = new Array[Array[Double]](k)
    var i = 0
    while (i < k) {
      out(i) = arr.getArray(i).toDoubleArray()
      i += 1
    }
    out
  }

  /** Called from generated code. Stable tie-break: strict `<` keeps the
    * lowest centroid index on equal distances. */
  def cells(v: ArrayData, centroids: Array[Array[Double]], probes: Int): ArrayData = {
    val k = centroids.length
    val n = v.numElements()
    val d = new Array[Double](k)
    var c = 0
    while (c < k) {
      val ct = centroids(c)
      var s = 0.0
      var j = 0
      while (j < n) { val t = v.getDouble(j) - ct(j); s += t * t; j += 1 }
      d(c) = s
      c += 1
    }
    val m = math.min(probes, k)
    val out = new Array[Int](m)
    val used = new Array[Boolean](k)
    var r = 0
    while (r < m) {
      var best = -1
      var bestD = Double.PositiveInfinity
      var i = 0
      while (i < k) {
        if (!used(i) && d(i) < bestD) { bestD = d(i); best = i }
        i += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** SQL builder (injected by GraftExtensions):
    * graft_nearest_cells(vec, centroids, probes). */
  val builder: Seq[Expression] => Expression =
    exprs => NearestCells(exprs(0), exprs(1), exprs(2))

  def column(vec: Column, centroids: Seq[Seq[Double]], probes: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_nearest_cells",
      vec, org.apache.spark.sql.functions.typedLit(centroids),
      org.apache.spark.sql.functions.lit(probes))
}
