package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** All `numTables` hyperplane-LSH sign-bit signatures of an
  * `array<double>` embedding as ONE native codegen expression: the
  * result array's index is the LSH table, the value the table's
  * `numBits`-bit signature (bit b set iff `v · plane(t)(b) > 0`).
  *
  * Replaces a typed `Dataset.flatMap` signature pass: no row-object
  * deserialization, no encoder, and the whole-stage codegen span over
  * the corpus scan stays unbroken — at 100 TB the signature stage is a
  * pure projection fused into the scan. The planes are Rademacher (±1)
  * components from the portable quadratic hash of the plane coordinate
  * (see [[planes]]) — sign-LSH only needs a symmetric component
  * distribution (this is SimHash over the embedding, Charikar 2002),
  * and pure integer arithmetic means ANY engine (the DuckDB oracle
  * included) can regenerate the planes exactly, which `java.util.
  * Random` Gaussians never allowed.
  */
case class HyperplaneSigs(child: Expression, numTables: Int, numBits: Int,
    dim: Int, seed: Long) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sigs requires array<double>, got $dt")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val planes: Array[Array[Array[Double]]] =
    HyperplaneSigs.planes(numTables, numBits, dim, seed)

  override def nullSafeEval(input: Any): Any =
    HyperplaneSigs.sigs(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the planes live in the plan's references array: loaded once per
    // task, not rebuilt (or re-fetched from a map) per row
    val ref = ctx.addReferenceObj("hyperplanes", planes, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HyperplaneSigs.sigs($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigs =
    copy(child = newChild)
}

object HyperplaneSigs {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Long),
      Array[Array[Array[Double]]]]()

  /** Portable-hash mixing constants: [[HashMod]] = 2³¹ keeps every
    * intermediate product under 2⁶³ (h·[[HashMult]] ≤ (2³¹−1)·(2³²/φ)
    * < 2⁶³; h² ≤ (2³¹−1)² ≈ 2⁶²), so the identical integer sequence
    * runs overflow-free as Scala Longs, ANSI-mode Spark BIGINTs and
    * DuckDB BIGINTs. The squaring step is the nonlinearity: a purely
    * multiplicative chain is linear in the coordinate index and its
    * thresholded signs would form a structured rotation sequence, not
    * plane components. */
  val HashMod = 2147483648L
  val HashMult = 2654435761L
  val MixAdd = 99991L

  /** The ±1 plane component at flat coordinate `idx` — the single
    * arithmetic definition both engines share ([[planeSignSql]] is the
    * same expression as SQL text). */
  def planeSign(idx: Long): Double = {
    val h1 = ((idx % HashMod) * HashMult) % HashMod
    val h2 = (h1 * h1 + MixAdd) % HashMod
    val h3 = (h2 * HashMult) % HashMod
    if (h3 < HashMod / 2) 1.0 else -1.0
  }

  /** [[planeSign]] as a SQL expression over an integer column/expr:
    * substitute the flat-coordinate expression for `idx`. */
  def planeSignSql(idx: String): String = {
    val m = HashMod; val a = HashMult; val c = MixAdd
    val h1 = s"((($idx) % $m) * $a) % $m"
    val h2 = s"(($h1) * ($h1) + $c) % $m"
    val h3 = s"(($h2) * $a) % $m"
    s"(CASE WHEN ($h3) < ${m / 2} THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)"
  }

  /** Deterministic Rademacher planes: component (t, b, d) is
    * [[planeSign]] of the flat coordinate `((t·nB + b)·dim + d) + seed`
    * — a pure integer function, identical on any JVM and replayable by
    * the DuckDB oracle. */
  def planes(nT: Int, nB: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] =
    cache.computeIfAbsent((nT, nB, dim, seed), _ =>
      Array.tabulate(nT, nB, dim) { (t, b, d) =>
        planeSign((t.toLong * nB + b) * dim + d + seed)
      })

  /** Called from generated code. */
  def sigs(v: ArrayData, planes: Array[Array[Array[Double]]]): ArrayData = {
    val n = v.numElements()
    val out = new Array[Int](planes.length)
    var t = 0
    while (t < planes.length) {
      val tbl = planes(t)
      var sig = 0
      var b = 0
      while (b < tbl.length) {
        val p = tbl(b)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += v.getDouble(i) * p(i); i += 1 }
        if (dot > 0) sig |= (1 << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def intOf(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()
  private def longOf(e: Expression): Long =
    e.eval().asInstanceOf[Number].longValue()

  /** SQL builder (injected by GraftExtensions):
    * graft_hyperplane_sigs(vec, numTables, numBits, dim, seed). */
  val builder: Seq[Expression] => Expression = exprs =>
    HyperplaneSigs(exprs(0), intOf(exprs(1)), intOf(exprs(2)),
      intOf(exprs(3)), longOf(exprs(4)))

  def column(vec: Column, numTables: Int, numBits: Int,
      dim: Int, seed: Long): Column =
    org.apache.spark.sql.functions.call_function("graft_hyperplane_sigs",
      vec, org.apache.spark.sql.functions.lit(numTables),
      org.apache.spark.sql.functions.lit(numBits),
      org.apache.spark.sql.functions.lit(dim),
      org.apache.spark.sql.functions.lit(seed))
}
