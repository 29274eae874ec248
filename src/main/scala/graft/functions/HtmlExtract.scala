package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes}
import org.apache.spark.unsafe.types.UTF8String

/** HTML → main-text extraction as native Catalyst expressions — the
  * front-door stage of a web-crawl curation pipeline (trafilatura /
  * jusText heuristic class): strip tags, drop `script`/`style`/`title`
  * and comments wholesale, decode character entities, split on
  * block-level boundaries, and keep only blocks that look like
  * CONTENT — dropping the high-link-density furniture (navs, footers,
  * link farms) and sub-threshold fragments (breadcrumbs, button
  * labels) that would otherwise poison every downstream quality /
  * dedup / LM-score signal.
  *
  * The extraction contract (shared verbatim by [[HtmlParsed]] and the
  * oracle synthesis arithmetic in `graft.operators.Html`):
  *   - `<!-- … -->` comments and the full contents of
  *     `<script>`/`<style>`/`<title>` elements are removed (metadata,
  *     never content; close-tag match is case-insensitive, an
  *     unterminated element runs to end of input);
  *   - any `<letter…>` / `</letter…>` tag is consumed; a `<` not
  *     opening a tag is literal text; tag names match FULLY (so
  *     `<pre>` never matches the `p` rule);
  *   - opening OR closing a block-level tag (`p div br li ul ol
  *     h1…h6 tr td th table thead tbody nav footer header aside
  *     section article blockquote hr form main pre dl dt dd`) flushes
  *     the current block; all other tags are inline and their text
  *     flows;
  *   - entities `&amp; &lt; &gt; &quot; &apos; &#39; &nbsp;` (nbsp →
  *     regular space) and numeric `&#NN;`/`&#xHH;` decode; an unknown
  *     or unterminated entity stays literal;
  *   - text inside `<a>…</a>` (depth-tracked) counts toward the
  *     block's LINK chars;
  *   - at each flush the block is trimmed (space/tab/CR/LF); empty
  *     blocks are not counted. A non-empty block is KEPT iff its
  *     trimmed length ≥ [[HtmlExtract.MinBlockChars]] AND
  *     linkChars × 10 < length × [[HtmlExtract.LinkDensityMaxTenths]]
  *     (integer arithmetic — engine-portable); shorter blocks count
  *     as `dropped_short`, linkier ones as `dropped_link`;
  *   - kept blocks join with a single `\n` in document order.
  *
  * Scale shape: pure per-row scalar kernels inside whole-stage codegen
  * (static-call `doGenCode`, no CodegenFallback lambda, no UDF) — an
  * HTML corpus scan stays one map-side pass with zero shuffle.
  */
object HtmlExtract {

  /** Blocks shorter than this (trimmed) are furniture ("Home", "OK"). */
  val MinBlockChars = 8

  /** Drop a block when linkChars×10 ≥ len×this — i.e. link density ≥
    * 0.3, the jusText-style boilerplate cut. */
  val LinkDensityMaxTenths = 3

  private val BlockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5",
      "h6", "tr", "td", "th", "table", "thead", "tbody", "nav", "footer",
      "header", "aside", "section", "article", "blockquote", "hr", "form",
      "main", "pre", "dl", "dt", "dd").foreach(s.add)
    s
  }

  final case class Parsed(text: String, nBlocks: Long, nKept: Long,
      nDroppedLink: Long, nDroppedShort: Long)

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  @inline private def isTagNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  @inline private def isTagNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def indexOfIgnoreCase(h: String, needle: String, from: Int): Int = {
    val n = h.length; val m = needle.length
    var i = math.max(0, from)
    while (i + m <= n) {
      if (h.regionMatches(true, i, needle, 0, m)) return i
      i += 1
    }
    -1
  }

  /** One pass over the page; see the object scaladoc for the contract. */
  def parse(html: String): Parsed = {
    val n = html.length
    val out = new java.lang.StringBuilder
    val block = new java.lang.StringBuilder
    var linkChars = 0
    var anchorDepth = 0
    var nBlocks = 0L; var nKept = 0L; var nShort = 0L; var nLink = 0L

    def flush(): Unit = {
      var s = 0; var e = block.length
      while (s < e && isWs(block.charAt(s))) s += 1
      while (e > s && isWs(block.charAt(e - 1))) e -= 1
      val len = e - s
      if (len > 0) {
        nBlocks += 1
        if (len < MinBlockChars) nShort += 1
        else if (linkChars.toLong * 10 >= len.toLong * LinkDensityMaxTenths)
          nLink += 1
        else {
          if (nKept > 0) out.append('\n')
          out.append(block, s, e)
          nKept += 1
        }
      }
      block.setLength(0); linkChars = 0
    }

    @inline def appendChar(c: Char): Unit = {
      block.append(c)
      if (anchorDepth > 0) linkChars += 1
    }

    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (isTagNameStart(html.charAt(i + 1)) ||
            html.charAt(i + 1) == '/' || html.charAt(i + 1) == '!')) {
          val closing = html.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val ns = j
          while (j < n && isTagNameChar(html.charAt(j))) j += 1
          val name =
            if (j > ns) html.substring(ns, j).toLowerCase(Locale.ROOT) else ""
          var k = j
          while (k < n && html.charAt(k) != '>') k += 1
          val tagEnd = if (k < n) k + 1 else n
          if (!closing &&
              (name == "script" || name == "style" || name == "title")) {
            val close = "</" + name
            val m = indexOfIgnoreCase(html, close, tagEnd)
            if (m < 0) i = n
            else {
              var g = m + close.length
              while (g < n && html.charAt(g) != '>') g += 1
              i = if (g < n) g + 1 else n
            }
          } else {
            if (BlockTags.contains(name)) flush()
            if (name == "a") {
              if (closing) anchorDepth = math.max(0, anchorDepth - 1)
              else anchorDepth += 1
            }
            i = tagEnd
          }
        } else { appendChar('<'); i += 1 }
      } else if (c == '&') {
        val semi = html.indexOf(';', i + 1)
        var consumed = false
        if (semi > i && semi - i <= 10) {
          val body = html.substring(i + 1, semi)
          val decoded: String = body match {
            case "amp" => "&"
            case "lt" => "<"
            case "gt" => ">"
            case "quot" => "\""
            case "apos" => "'"
            case "nbsp" => " "
            case _ if body.length >= 2 && body.charAt(0) == '#' =>
              try {
                val cp =
                  if (body.charAt(1) == 'x' || body.charAt(1) == 'X')
                    Integer.parseInt(body.substring(2), 16)
                  else Integer.parseInt(body.substring(1))
                if (Character.isValidCodePoint(cp))
                  new String(Character.toChars(cp))
                else null
              } catch { case _: NumberFormatException => null }
            case _ => null
          }
          if (decoded != null) {
            block.append(decoded)
            if (anchorDepth > 0) linkChars += decoded.length
            i = semi + 1
            consumed = true
          }
        }
        if (!consumed) { appendChar('&'); i += 1 }
      } else {
        appendChar(c)
        i += 1
      }
    }
    flush()
    Parsed(out.toString, nBlocks, nKept, nLink, nShort)
  }

  /** Called from generated code: the FULL parse result as one struct
    * (text, n_blocks, n_kept, n_dropped_link, n_dropped_short) — so a
    * query needing both the text and the census runs the page scan
    * ONCE per row (codegen subexpression elimination dedupes the
    * struct eval across the projected fields). */
  def parsedRow(html: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val p = parse(html.toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(p.text), p.nBlocks, p.nKept,
        p.nDroppedLink, p.nDroppedShort))
  }

  /** Called from generated code: href values of anchor (`<a …>`)
    * opening tags in document order — the link-graph signal the text
    * extraction discards. Shares the comment / script / style / title
    * skip discipline with [[parse]]; attribute values are returned as
    * raw bytes (double-/single-quoted or unquoted-to-whitespace; no
    * entity decode — the contract for synthesized corpora whose hrefs
    * carry literal `&`), and a quoted value must not contain `>` (the
    * tag scan, like [[parse]]'s, ends at the first `>`). Anchors
    * without an href contribute nothing. */
  def links(html0: UTF8String): ArrayData = {
    val html = html0.toString
    val n = html.length
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (isTagNameStart(html.charAt(i + 1)) ||
            html.charAt(i + 1) == '/' || html.charAt(i + 1) == '!')) {
          val closing = html.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val ns = j
          while (j < n && isTagNameChar(html.charAt(j))) j += 1
          val name =
            if (j > ns) html.substring(ns, j).toLowerCase(Locale.ROOT) else ""
          var k = j
          while (k < n && html.charAt(k) != '>') k += 1
          val tagEnd = if (k < n) k + 1 else n
          if (!closing &&
              (name == "script" || name == "style" || name == "title")) {
            val close = "</" + name
            val m = indexOfIgnoreCase(html, close, tagEnd)
            if (m < 0) i = n
            else {
              var g = m + close.length
              while (g < n && html.charAt(g) != '>') g += 1
              i = if (g < n) g + 1 else n
            }
          } else {
            if (!closing && name == "a") {
              // attribute scan inside [j, k): name [= value]
              var a = j
              while (a < k) {
                while (a < k && isWs(html.charAt(a))) a += 1
                val as = a
                while (a < k && !isWs(html.charAt(a)) && html.charAt(a) != '=')
                  a += 1
                val attr = html.substring(as, a)
                while (a < k && isWs(html.charAt(a))) a += 1
                var value: String = null
                if (a < k && html.charAt(a) == '=') {
                  a += 1
                  while (a < k && isWs(html.charAt(a))) a += 1
                  if (a < k && (html.charAt(a) == '"' || html.charAt(a) == '\'')) {
                    val q = html.charAt(a)
                    val vs = a + 1
                    var ve = vs
                    while (ve < k && html.charAt(ve) != q) ve += 1
                    value = html.substring(vs, ve)
                    a = if (ve < k) ve + 1 else k
                  } else {
                    val vs = a
                    while (a < k && !isWs(html.charAt(a))) a += 1
                    value = html.substring(vs, a)
                  }
                }
                if (attr.equalsIgnoreCase("href") && value != null)
                  out.add(UTF8String.fromString(value))
              }
            }
            i = tagEnd
          }
        } else i += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[UTF8String](out.size())))
  }

  val parsedBuilder: Seq[Expression] => Expression = exprs => HtmlParsed(exprs.head)
  val linksBuilder: Seq[Expression] => Expression = exprs => HtmlLinks(exprs.head)

  def parsedCol(html: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_html_parsed", html)

  def linksCol(html: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_html_links", html)
}

/** Full parse of an HTML page under the [[HtmlExtract]] contract, as
  * one struct — text + census in a single page walk (see
  * [[HtmlExtract.parsedRow]]). */
case class HtmlParsed(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_parsed requires a string argument, got ${child.dataType}")

  override def dataType: DataType = HtmlParsed.schema

  override def nullSafeEval(input: Any): Any =
    HtmlExtract.parsedRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlExtract.parsedRow($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlParsed =
    copy(child = newChild)
}

object HtmlParsed {
  val schema: org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType()
      .add("text", DataTypes.StringType, nullable = false)
      .add("n_blocks", DataTypes.LongType, nullable = false)
      .add("n_kept", DataTypes.LongType, nullable = false)
      .add("n_dropped_link", DataTypes.LongType, nullable = false)
      .add("n_dropped_short", DataTypes.LongType, nullable = false)
}

/** href values of anchor opening tags in document order (see
  * [[HtmlExtract.links]]) — the host link-graph signal. */
case class HtmlLinks(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DataTypes.StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_links requires a string argument, got ${child.dataType}")

  override def dataType: DataType =
    ArrayType(DataTypes.StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    HtmlExtract.links(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlExtract.links($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlLinks =
    copy(child = newChild)
}
