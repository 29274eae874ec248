package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DataTypes}
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization as a native Catalyst expression — the
  * crawl-side dedup key every web pipeline computes BEFORE content
  * dedup: the same page arrives under tracking-parameter, case, port,
  * fragment and trailing-slash variants, and collapsing them by
  * canonical URL is orders of magnitude cheaper than discovering the
  * same equivalence later by content shingling.
  *
  * Canonicalization contract (shared verbatim with the variant
  * synthesis arithmetic + DuckDB oracles in `graft.operators.Url`
  * and the planted cases in UrlSpec):
  *   - scheme and host lowercase;
  *   - default port stripped (`:80` for http, `:443` for https; other
  *     ports kept);
  *   - empty path → `/`; a trailing slash on a non-root path dropped;
  *   - query parameters whose name (case-insensitively) starts with
  *     `utm_` or equals `fbclid`/`gclid`/`msclkid` are removed
  *     (tracking noise — they never change the page); the remaining
  *     `name=value` parts sort BYTEWISE and rejoin with `&`; an empty
  *     surviving set drops the `?` entirely;
  *   - the fragment is dropped (client-side only);
  *   - anything without a `scheme://` marker is not a URL → NULL (the
  *     corrupt-payload → NULL convention of the mm_* parsers).
  *
  * Pure per-row scalar inside whole-stage codegen (static-call
  * `doGenCode`); the dedup that follows groups by the canonical
  * string — one shuffle keyed on an already-collapsed value. */
object UrlCanon {

  private val DropParams = Set("fbclid", "gclid", "msclkid")

  /** Called from generated code; null for non-URLs. */
  def canon(url: UTF8String): UTF8String = {
    val s = url.toString
    val mark = s.indexOf("://")
    if (mark <= 0) return null
    val scheme = s.substring(0, mark).toLowerCase(Locale.ROOT)
    var i = mark + 3
    val n = s.length
    var hostEnd = i
    while (hostEnd < n && s.charAt(hostEnd) != '/' && s.charAt(hostEnd) != '?' &&
        s.charAt(hostEnd) != '#') hostEnd += 1
    var hostPort = s.substring(i, hostEnd).toLowerCase(Locale.ROOT)
    if (hostPort.isEmpty) return null
    val colon = hostPort.lastIndexOf(':')
    if (colon >= 0) {
      val port = hostPort.substring(colon + 1)
      if ((scheme == "http" && port == "80") ||
          (scheme == "https" && port == "443"))
        hostPort = hostPort.substring(0, colon)
    }
    i = hostEnd
    var pathEnd = i
    while (pathEnd < n && s.charAt(pathEnd) != '?' && s.charAt(pathEnd) != '#')
      pathEnd += 1
    var path = s.substring(i, pathEnd)
    if (path.isEmpty) path = "/"
    if (path.length > 1 && path.endsWith("/")) path = path.dropRight(1)
    var query = ""
    if (pathEnd < n && s.charAt(pathEnd) == '?') {
      var qEnd = pathEnd + 1
      while (qEnd < n && s.charAt(qEnd) != '#') qEnd += 1
      val kept = s.substring(pathEnd + 1, qEnd).split("&", -1).filter { part =>
        if (part.isEmpty) false
        else {
          val eq = part.indexOf('=')
          val name = (if (eq >= 0) part.substring(0, eq) else part)
            .toLowerCase(Locale.ROOT)
          !(name.startsWith("utm_") || DropParams.contains(name))
        }
      }
      if (kept.nonEmpty) {
        java.util.Arrays.sort(kept.asInstanceOf[Array[AnyRef]],
          (a: AnyRef, b: AnyRef) => java.util.Arrays.compareUnsigned(
            a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        query = "?" + kept.mkString("&")
      }
    }
    UTF8String.fromString(scheme + "://" + hostPort + path + query)
  }

  /** Canonical host alone (lowercased, default port stripped) — the
    * domain-profile rollup key; null for non-URLs. */
  def host(url: UTF8String): UTF8String = {
    val c = canon(url)
    if (c == null) return null
    val s = c.toString
    val mark = s.indexOf("://") + 3
    var e = mark
    while (e < s.length && s.charAt(e) != '/' && s.charAt(e) != '?') e += 1
    UTF8String.fromString(s.substring(mark, e))
  }

  val canonBuilder: Seq[Expression] => Expression = exprs => UrlCanonExpr(exprs.head)
  val hostBuilder: Seq[Expression] => Expression = exprs => UrlHostExpr(exprs.head)

  def canonCol(url: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_url_canon", url)

  def hostCol(url: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_url_host", url)
}

/** Canonical form of a URL under the [[UrlCanon]] contract; null for
  * non-URLs. */
case class UrlCanonExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"url_canon requires a string argument, got ${child.dataType}")

  override def dataType: DataType = DataTypes.StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UrlCanon.canon(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = graft.functions.UrlCanon.canon($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): UrlCanonExpr =
    copy(child = newChild)
}

/** Canonical host of a URL under the [[UrlCanon]] contract; null for
  * non-URLs. */
case class UrlHostExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"url_host requires a string argument, got ${child.dataType}")

  override def dataType: DataType = DataTypes.StringType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UrlCanon.host(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = graft.functions.UrlCanon.host($c);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): UrlHostExpr =
    copy(child = newChild)
}
