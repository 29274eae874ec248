package graft

import org.apache.spark.sql.functions._
import graft.functions.HtmlExtract
import graft.operators.{Dedup, Html}
import graft.sources.Tables

class HtmlSpec extends SparkSpec {

  private def parsed(html: String) = HtmlExtract.parse(html)

  test("planted page: nav/footer/script/style/title/comment handling") {
    val page =
      """<!DOCTYPE html>
        |<html><head>
        |  <title>Ignore Me Entirely</title>
        |  <style>p { color: red; } /* a > b < c */</style>
        |  <script type="text/javascript">if (a < b && c > d) { nav(); }</script>
        |</head>
        |<body>
        |  <NAV><a href="/">Home</a> <a href="/shop">Shop</a> <a href="/x">X</a></NAV>
        |  <p>Home</p>
        |  <!-- comment with <p>fake block</p> inside -->
        |  <div class="content">This is the real article body with enough text.</div>
        |  <p>Another genuine paragraph, <b>bold</b> and <i>italic</i> inline.</p>
        |  <div><span></span><a href="/more">read more</a></div>
        |  <footer><a href="/a">About</a> | <a href="/b">Blog</a> | <a href="/c">Careers</a></footer>
        |</body></html>""".stripMargin
    val p = parsed(page)
    // blocks: nav (link), "Home" (short), content div (kept), paragraph
    // (kept), read-more div (link: 9 link chars of 9), footer (link)
    assert(p.nBlocks == 6, p)
    assert(p.nKept == 2, p)
    assert(p.nDroppedLink == 3, p)
    assert(p.nDroppedShort == 1, p)
    assert(p.text ==
      "This is the real article body with enough text.\n" +
        "Another genuine paragraph, bold and italic inline.")
  }

  test("planted page: entities, literal angle brackets, nested anchors") {
    val p = parsed(
      "<p>5 &lt; 7 &amp;&amp; 9 &gt; 3, &quot;q&quot; &apos;a&#39; &#65;&#x42; x&nbsp;y</p>" +
        "<p>3 < 5 but & unknown &zzz; stays</p>" +
        "<div><a href=\"/o\">outer <a href=\"/i\">inner</a> tail</a>" +
        " with a good deal of plain free trailing prose text after</div>")
    assert(p.text ==
      "5 < 7 && 9 > 3, \"q\" 'a' AB x y\n" +
        "3 < 5 but & unknown &zzz; stays\n" +
        "outer inner tail with a good deal of plain free trailing prose text after")
    assert(p.nKept == 3 && p.nDroppedLink == 0)
    // make the third block mostly links and it flips to dropped
    val linky = parsed(
      "<div><a href=\"/o\">outer <a href=\"/i\">inner</a> tail</a> end</div>")
    assert(linky.nDroppedLink == 1 && linky.nKept == 0)
  }

  test("planted page: full tag-name match, unterminated tails, br boundaries") {
    // <pre> must not match the p rule by prefix — it is its own block tag;
    // <preamble> is neither (unknown → inline)
    val p1 = parsed("<span>one two</span><preamble> three</preamble><p>four five six seven</p>")
    // "one two three" flushed by <p> (span/preamble inline), then the p body
    assert(p1.nBlocks == 2 && p1.nKept == 2, p1)
    assert(p1.text == "one two three\nfour five six seven")
    val p2 = parsed("first long enough line<br>second long enough line")
    assert(p2.nKept == 2 && p2.text ==
      "first long enough line\nsecond long enough line")
    // unterminated script swallows the rest; unterminated comment too
    assert(parsed("<p>kept paragraph</p><script>var a=1; <p>ghost</p>").text
      == "kept paragraph")
    assert(parsed("<p>kept paragraph</p><!-- open comment <p>ghost</p>").text
      == "kept paragraph")
    // a '<' not starting a tag is literal
    assert(parsed("<p>price < 100 and deal</p>").text == "price < 100 and deal")
  }

  test("link-density boundary: exactly 0.3 drops, just under keeps") {
    // len 10, link 3 → 30 ≥ 30 → dropped
    val drop = parsed("<div><a>abc</a>defghij</div>")
    assert(drop.nDroppedLink == 1 && drop.nKept == 0)
    // len 10, link 2 → 20 < 30 → kept
    val keep = parsed("<div><a>ab</a>cdefghij</div>")
    assert(keep.nKept == 1 && keep.nDroppedLink == 0)
    // min-length boundary: 8 kept, 7 dropped short
    assert(parsed("<p>abcdefgh</p>").nKept == 1)
    assert(parsed("<p>abcdefg</p>").nDroppedShort == 1)
  }

  test("synthesized corpus round-trips: census and text match the recompute") {
    val rows = Html.htmlExtract(spark, sfDir).collect()
    val docs = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val paras = docs(id).split(" ", -1).grouped(Html.ParaWords)
        .map(_.mkString(" ")).filter(_.nonEmpty).toVector
      val kept = paras.filter(_.length >= HtmlExtract.MinBlockChars)
      val epara = s"""id & <$id> "x'"""
      val expectedText = (kept :+ epara).mkString("\n")
      assert(r.getAs[String]("extracted_text") == expectedText, s"doc $id")
      assert(r.getAs[Long]("n_blocks") == paras.size + 4L, s"doc $id")
      assert(r.getAs[Long]("n_kept") == kept.size + 1L, s"doc $id")
      assert(r.getAs[Long]("n_dropped_link") == 2L)
      assert(r.getAs[Long]("n_dropped_short") ==
        paras.size - kept.size + 1L, s"doc $id")
      assert(r.getAs[Long]("extracted_chars") == expectedText.length.toLong)
      // no markup, no boilerplate text survives
      val t = r.getAs[String]("extracted_text")
      assert(!t.contains("<p>") && !t.contains("Privacy Policy") &&
        !t.contains("Products") && !t.contains("var t="))
    }
  }

  test("pure-SQL sessions reach the extractor (extension-registered)") {
    val row = spark.sql(
      """SELECT graft_html_parsed('<nav><a href="/">Home Page Nav</a></nav>' ||
        |         '<p>actual body text</p>').text AS t,
        |       graft_html_parsed('<p>short</p><p>actual body text</p>') AS s
        |""".stripMargin).head()
    assert(row.getAs[String]("t") == "actual body text")
    val s = row.getStruct(1)
    assert((1 until 5).map(s.getLong) == Seq(2L, 1L, 0L, 1L))
  }

  test("planted page: link extraction contract (graft_html_links)") {
    def links(html: String): Seq[String] = {
      val a = HtmlExtract.links(
        org.apache.spark.unsafe.types.UTF8String.fromString(html))
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    // quote styles, attribute order, uppercase attr name, document order
    assert(links(
      """<a href="http://a.com/1">x</a>
        |<a class="c" href='http://a.com/2'>y</a>
        |<A HREF=http://a.com/3>z</A>""".stripMargin) ==
      Seq("http://a.com/1", "http://a.com/2", "http://a.com/3"))
    // anchors inside script / style / title / comments never surface
    assert(links(
      """<script>var s = '<a href="http://no.com/s">';</script>
        |<style>a:after { content: '<a href="http://no.com/c">' }</style>
        |<title><a href="http://no.com/t">t</a></title>
        |<!-- <a href="http://no.com/x">x</a> -->
        |<a href="http://yes.com/1">real</a>""".stripMargin) ==
      Seq("http://yes.com/1"))
    // href-less anchors and closing tags contribute nothing
    assert(links("""<a name="top">anchor</a><a>bare</a></a href="http://no.com">""")
      == Seq())
    assert(links("") == Seq())
  }

  test("graft_html_parsed: one-walk struct equals the text+stats pair") {
    val pages = Seq(
      "<p>plain body paragraph long enough</p>",
      "<nav><a href=\"/\">All Of This Is Nav</a></nav><p>tiny</p>",
      "<p>5 &lt; 7 &amp; more content here</p><script>x<y</script>",
      "")
    import spark.implicits._
    pages.toDF("html")
      .selectExpr("html", "graft_html_parsed(html) AS p")
      .collect().foreach { r =>
        val want = parsed(r.getString(0))
        val p = r.getStruct(1)
        assert(p.getAs[String]("text") == want.text)
        assert(Seq(p.getAs[Long]("n_blocks"), p.getAs[Long]("n_kept"),
          p.getAs[Long]("n_dropped_link"), p.getAs[Long]("n_dropped_short")) ==
          Seq(want.nBlocks, want.nKept, want.nDroppedLink, want.nDroppedShort))
      }
  }

  test("trim/length semantics pinned: block-edge tab/CR/LF trim, UTF-16 len") {
    // the txt_html_extract oracle measures the UNTRIMMED paragraph in
    // code points; the extractor trims edges and measures UTF-16 units.
    // The corpus precondition (single-space ASCII-ish prose) keeps them
    // equal — these planted pages document where they would diverge.
    val p1 = parsed("<p>\t edge-trimmed body text here \r\n</p>")
    assert(p1.text == "edge-trimmed body text here")
    val p2 = parsed("<p>\t x \n</p>") // 1 char after trim: short-dropped
    assert(p2.nDroppedShort == 1 && p2.nKept == 0)
    val p3 = parsed("<p>inner\ttabs\nstay intact</p>")
    assert(p3.text == "inner\ttabs\nstay intact")
  }

  test("extractHtmlCorpus is a working TrainingDataPipeline front door") {
    // pages → documents-shaped extracted corpus on disk → a real
    // curation stage (exact dedup) consumes it unchanged
    val out = java.nio.file.Files.createTempDirectory("html_corpus").toString
    val extracted = Html.extractHtmlCorpus(spark, Html.htmlPages(spark, sfDir), out)
    assert(extracted.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    val n = Tables.table(spark, sfDir, "documents").count()
    assert(extracted.count() == n)
    // extracted text is the content, not the page: no markup, no footer
    // (a literal '<' is fine — the entity paragraph decodes to one)
    val bad = extracted.where(col("text").contains("<p>") ||
      col("text").contains("</") ||
      col("text").contains("Privacy Policy")).count()
    assert(bad == 0L)
    // n_chars is consistent for downstream size-based stages
    assert(extracted.where(length(col("text")) =!= col("n_chars")).count() == 0L)
    // the curation DAG's first stage runs against the extracted dir as-is
    val dedup = Dedup.exact(spark, out)
    assert(dedup.count() > 0L)
  }
}
