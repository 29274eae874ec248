package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HtmlExtract
import graft.sources.Tables

/** HTML/boilerplate text extraction — the front door of a web-crawl
  * curation pipeline. Every real crawl corpus (the reference ingests
  * clean CSVs; a 100 TB LLM corpus does not arrive clean) runs an
  * extraction pass BEFORE any of the quality / language / dedup /
  * decontamination stages this repo already ships: raw pages are
  * ~90% furniture (navigation, footers, scripts, link farms), and
  * scoring or shingling the furniture poisons every downstream signal.
  *
  * The extractor itself is [[graft.functions.HtmlExtract]] — native
  * codegen scalar kernels (tag strip, script/style/title + comment
  * removal, entity decode, block segmentation, link-density +
  * min-length boilerplate cut), zero shuffle over the page scan.
  *
  * The contract query follows the `mm_*` deterministic-synthesis
  * precedent (Multimodal.scala: payloads built by arithmetic, oracle
  * recomputes from the same arithmetic): pages are synthesized from
  * `documents.text` with boilerplate injected deterministically —
  * a 3-link nav, a sub-threshold breadcrumb, a comment, `<script>`
  * (containing a hostile `<`), `<style>`, a doc_id-bearing `<title>`,
  * an entity-encoded paragraph, and a 3-link footer around the
  * escaped content paragraphs — and parsed BACK by the real
  * extractor. The DuckDB oracle recomputes the expected census and
  * extracted text from the raw `text` column with the same chunk
  * arithmetic, so a parser bug (missed script skip, wrong entity,
  * broken block boundary, density misclassification) breaks the hash
  * gate at every scale factor.
  */
object Html {

  /** Words per synthesized content paragraph. */
  val ParaWords = 12

  /** Deterministic page synthesis (shared by the query, the oracle's
    * arithmetic and the specs). Boilerplate census per page: nav
    * (link-dropped), breadcrumb (short-dropped), content paragraphs
    * (kept iff ≥ [[HtmlExtract.MinBlockChars]] chars), entity
    * paragraph (kept), footer (link-dropped); script/style/title and
    * the comment never become blocks. */
  def synthPage(id: Long, text: String): String = {
    val words = text.split(" ", -1)
    val sb = new java.lang.StringBuilder(text.length * 2 + 512)
    sb.append("<!DOCTYPE html><html><head><title>Doc ").append(id)
      .append("</title><style>.m{color:#333}</style><script>var t=")
      .append(id * 7).append(";if(t<0){t=0}</script></head><body>")
      .append("<nav><a href=\"/\">Home</a> <a href=\"/p\">Products</a> ")
      .append("<a href=\"/d\">Deals</a></nav>")
      .append("<p>Home</p>")
      .append("<!-- end of boilerplate -->")
    words.grouped(ParaWords).foreach { g =>
      sb.append("<p>")
        .append(g.mkString(" ").replace("&", "&amp;")
          .replace("<", "&lt;").replace(">", "&gt;"))
        .append("</p>")
    }
    sb.append("<p>id &amp; &lt;").append(id).append("&gt; &quot;x&#39;</p>")
      .append("<div class=\"footer\"><a href=\"/a\">About Us</a> | ")
      .append("<a href=\"/pp\">Privacy Policy</a> | ")
      .append("<a href=\"/c\">Contact</a></div></body></html>")
    sb.toString
  }

  /** The synthesized page corpus: (doc_id, lang, source, html). Page
    * building is per-row executor work (the mm_* payload pattern) —
    * no shuffle, text never reaches the driver. */
  def htmlPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .as[(Long, String, String, String)]
      .mapPartitions(_.map { case (id, lang, source, text) =>
        (id, lang, source, synthPage(id, text))
      })
      .toDF("doc_id", "lang", "source", "html")
  }

  /** `txt_html_extract`: parse the synthesized corpus back through the
    * real extractor — per page, the block census (total / kept /
    * link-dropped / short-dropped), the extracted char count and the
    * extracted main text. Scale shape: one map-side pass — the page is
    * walked ONCE per row via the struct-returning `graft_html_parsed`
    * kernel (text + census in one [[HtmlExtract.parse]] call; codegen
    * subexpression elimination shares the struct eval across the
    * projected fields), not once per output column; the only exchange
    * is the output ordering.
    *
    * Corpus precondition (shared with the oracle, which measures the
    * UNTRIMMED paragraph in code points): `documents.text` is
    * single-space-separated prose with no tab/CR/LF and no
    * supplementary code points — the driver's synthetic corpus
    * satisfies it, and HtmlSpec pins the trim/length semantics on
    * planted pages that violate it. */
  def htmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val p = HtmlExtract.parsedCol(col("html"))
    htmlPages(spark, dir)
      .select(col("doc_id"), p.as("p"))
      .select(col("doc_id"),
        col("p.n_blocks").as("n_blocks"),
        col("p.n_kept").as("n_kept"),
        col("p.n_dropped_link").as("n_dropped_link"),
        col("p.n_dropped_short").as("n_dropped_short"),
        length(col("p.text")).cast("long").as("extracted_chars"),
        col("p.text").as("extracted_text"))
      .orderBy("doc_id")
  }

  /** The synthesized LINK-page corpus for the host graph: one page per
    * document, hosted on `host(doc_id % Url.HostMod).example`, whose
    * anchors point at hosts derived arithmetically from doc_id — so
    * the host→host edge list (and with it `gr_host_rank`'s oracle) is
    * recomputable by pure arithmetic while the Spark side must recover
    * it through the REAL extraction path (`graft_html_links` →
    * `graft_url_host`). The page plants the extraction contract's
    * hazards: an anchor inside `<script>` (must not be seen), one
    * inside a comment (ditto), a single-quoted href, an href dressed
    * in canon-needing noise (uppercase host, `:80`, a tracking param),
    * an href-less `<a name=…>`, and — for every 11th doc — a link to
    * the pageless sink host `host{Url.HostMod}` (no out-edges), which
    * makes the PageRank dangling-mass term genuinely nonzero. */
  def linkPages(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val s = id % Url.HostMod
    val t1 = (id * 3 + 1) % Url.HostMod
    val t2 = (id * 5 + 2) % Url.HostMod
    val html = concat(
      lit("<html><head><title>Host page "), id.cast("string"),
      lit("</title><script>var s=\"<a href=\\\"http://scripted.example/no\\\">\";" +
        "</script></head><body>" +
        "<!-- <a href=\"http://commented.example/no\">x</a> -->" +
        "<nav><a href=\"HTTP://HOST"), t1.cast("string"),
      lit(".EXAMPLE:80/p"), id.cast("string"),
      lit("?utm_source=nav\">next</a> <a href='http://host"), t2.cast("string"),
      lit(".example/p"), (id * 7).cast("string"),
      lit("'>also</a> <a name=\"x\">anchorless</a></nav>"),
      when(id % 11 === 0,
        concat(lit("<p><a href=\"https://host"), lit(Url.HostMod).cast("string"),
          lit(".example:443/sink\">archive</a></p>")))
        .otherwise(lit("")),
      lit("<p>Linkfarm page for host "), s.cast("string"),
      lit(".</p></body></html>"))
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), s.as("src_host"), html.as("html"))
  }

  /** Optional TrainingDataPipeline pre-stage: turn a page table
    * (doc_id, lang, source, html) into a documents-shaped table
    * (doc_id, text, lang, source, n_chars) of EXTRACTED text at
    * `outDir/documents.parquet`, so
    * [[graft.TrainingDataPipeline.run]] curates what a model would
    * actually train on instead of markup. One map-side pass + the
    * partitioned write; no shuffle. */
  def extractHtmlCorpus(spark: SparkSession, pages: DataFrame,
      outDir: String): DataFrame = {
    val extracted = pages
      .select(col("doc_id"),
        HtmlExtract.parsedCol(col("html")).getField("text").as("text"),
        col("lang"), col("source"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
    extracted.write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    spark.read.parquet(s"$outDir/documents.parquet")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("txt_html_extract", htmlExtract,
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w,
         |             unnest(generate_series(0, (len(w)-1)//$ParaWords)) AS ci
         |      FROM d),
         |c AS (SELECT doc_id, ci,
         |             array_to_string(w[ci*$ParaWords+1 : ci*$ParaWords+$ParaWords],
         |                             ' ') AS para
         |      FROM p),
         |k AS (SELECT doc_id,
         |             CAST(COUNT(*) FILTER (WHERE length(para) >= 1) AS BIGINT)
         |               AS n_paras,
         |             CAST(COUNT(*) FILTER (WHERE length(para) >=
         |               ${HtmlExtract.MinBlockChars}) AS BIGINT) AS n_long,
         |             string_agg(CASE WHEN length(para) >=
         |                 ${HtmlExtract.MinBlockChars} THEN para END,
         |               chr(10) ORDER BY ci) AS body
         |      FROM c GROUP BY doc_id),
         |e AS (SELECT doc_id, n_paras, n_long,
         |             CASE WHEN body IS NULL
         |                  THEN 'id & <' || CAST(doc_id AS VARCHAR) || '> "x'''
         |                  ELSE body || chr(10) || 'id & <' ||
         |                       CAST(doc_id AS VARCHAR) || '> "x'''
         |             END AS extracted_text
         |      FROM k)
         |SELECT doc_id,
         |       n_paras + 4 AS n_blocks,
         |       n_long + 1 AS n_kept,
         |       CAST(2 AS BIGINT) AS n_dropped_link,
         |       n_paras - n_long + 1 AS n_dropped_short,
         |       length(extracted_text) AS extracted_chars,
         |       extracted_text
         |FROM e ORDER BY doc_id""".stripMargin))
}
