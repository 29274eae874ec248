package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.UrlCanon
import graft.sources.Tables

/** URL canonicalization + URL-level dedup — the FIRST dedup pass of a
  * crawl pipeline (reference class: CCNet / RefinedWeb): the same page
  * arrives under tracking-parameter, case, default-port, fragment and
  * trailing-slash variants, and collapsing those by canonical URL is
  * orders of magnitude cheaper than re-discovering the equivalence
  * later by content shingling — a string-normalize + one groupBy on
  * an already-collapsed key versus a shingle explosion per copy.
  *
  * The kernel is [[graft.functions.UrlCanon]] (native codegen scalar;
  * contract in its scaladoc). The contract queries follow the `mm_*` /
  * `txt_html_extract` deterministic-synthesis precedent: per document,
  * [[UrlVariants]] URL variants are synthesized by pure arithmetic on
  * `doc_id` — four spellings that MUST collapse to one canonical form
  * (case + fragment + default port + trailing slash + tracking-param
  * noise around the same page), one https root URL shared by every doc
  * on the same host (the cross-document collapse), and one non-URL
  * (→ NULL, the corrupt-payload convention) — and pushed through the
  * real expression. The DuckDB oracle recomputes both the variant
  * strings and their expected canonical forms from the same
  * arithmetic, so any canonicalization bug (missed tracking param,
  * wrong sort order, kept fragment, mangled port) breaks the hash gate
  * at every scale factor.
  *
  * Scale shape: synthesis and canonicalization are per-row map work
  * inside whole-stage codegen; the dedup's ONE shuffle keys on the
  * canonical string (at 100 TB, key on `xxhash64(canon)` instead and
  * carry the string only in the aggregate payload — the dd_exact
  * digest discipline).
  */
object Url {

  /** Host index = doc_id % HostMod — 13 synthetic hosts. */
  val HostMod = 13L
  /** Path index = doc_id % PathMod. */
  val PathMod = 97L
  /** Query-param value = doc_id % ParamMod. */
  val ParamMod = 7L
  /** Variants per document (see the object scaladoc). */
  val UrlVariants = 6

  /** The synthesized variant table: (doc_id, variant, url). Shared by
    * both queries; arithmetic mirrored verbatim in the [[defs]] oracles. */
  def urlVariants(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val h = (col("doc_id") % HostMod).cast("string")
    val p = (col("doc_id") % PathMod).cast("string")
    val a = (col("doc_id") % ParamMod).cast("string")
    val vs: Seq[Column] = Seq(
      concat(lit("http://host"), h, lit(".example/p"), p,
        lit("?a="), a, lit("&b=2")),
      concat(lit("HTTP://HOST"), h, lit(".EXAMPLE:80/p"), p,
        lit("?b=2&a="), a, lit("#sec"), id),
      concat(lit("http://host"), h, lit(".example:80/p"), p,
        lit("/?utm_source=feed&utm_campaign=c"), id, lit("&a="), a,
        lit("&b=2")),
      concat(lit("http://host"), h, lit(".example/p"), p,
        lit("?gclid=G"), id, lit("&b=2&a="), a),
      concat(lit("https://HOST"), h, lit(".example:443")),
      concat(lit("doc "), id, lit(" not a url")))
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), posexplode(array(vs: _*)))
      .select(col("doc_id"), col("pos").cast("int").as("variant"),
        col("col").as("url"))
  }

  /** `xf_url_canon`: every variant with its canonical URL and host —
    * the per-row transform a crawl frontier applies before anything
    * else touches the record. One map-side pass; the only exchange is
    * the output ordering. */
  def urlCanon(spark: SparkSession, dir: String): DataFrame =
    urlVariants(spark, dir)
      .select(col("doc_id"), col("variant"), col("url"),
        UrlCanon.canonCol(col("url")).as("canon_url"),
        UrlCanon.hostCol(col("url")).as("canon_host"))
      .orderBy("doc_id", "variant")

  /** `dd_url_dedup`: collapse the variant stream by canonical URL —
    * per canonical form: total arriving spellings, distinct documents,
    * and the first (smallest doc_id) arrival a frontier would keep.
    * Non-URLs (NULL canon) are excluded — they are not dedupable
    * addresses. ONE shuffle, keyed on the collapsed canonical value. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame =
    urlVariants(spark, dir)
      .select(col("doc_id"), UrlCanon.canonCol(col("url")).as("canon_url"))
      .where(col("canon_url").isNotNull)
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("first_doc_id"))
      .orderBy("canon_url")

  /** The standing canonical-URL FRONTIER set of a corpus dir — the
    * static side of the streaming frontier screen
    * ([[graft.streaming.CrawlStreams.urlFrontierStream]]) and the
    * index a production crawler persists ([[ArtifactCache.save]]) so
    * tomorrow's discovered URLs never re-canonicalize today's corpus.
    * Session-cached ([[ArtifactCache]]), one distinct canonical string
    * per crawled page. */
  private[graft] def frontier(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "url_frontier")(
      urlVariants(spark, dir)
        .select(UrlCanon.canonCol(col("url")).as("canon_url"))
        .where(col("canon_url").isNotNull)
        .distinct())

  /** `dd_url_incremental`: the frontier screen as a keyed batch
    * contract — arriving URLs (the hash-split batch, the
    * [[Dedup.incrementalDedup]] convention) screened against the
    * standing corpus frontier: one row per arriving spelling with its
    * canonical form, validity, and whether the canonical page is
    * already crawled. The decision a crawl scheduler makes per
    * discovered link, before any fetch.
    *
    * Scale shape: canonicalization is map-side codegen; the screen is
    * ONE join keyed on the collapsed canonical string against the
    * frontier set (persisted in production — [[ArtifactCache.save]]); no
    * text, no content pass. */
  def urlIncremental(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = Curation.portableHash(col("doc_id")) % 10 === 0
    val v = urlVariants(spark, dir)
      .select(col("doc_id"), col("variant"), col("url"),
        UrlCanon.canonCol(col("url")).as("canon_url"),
        isBatch.as("is_batch"))
    val corpusFrontier = v.where(!col("is_batch"))
      .where(col("canon_url").isNotNull)
      .select("canon_url").distinct()
      .withColumn("known0", lit(true))
    v.where(col("is_batch"))
      .join(corpusFrontier, Seq("canon_url"), "left")
      .select(col("doc_id"), col("variant"), col("url"), col("canon_url"),
        col("canon_url").isNotNull.as("valid"),
        coalesce(col("known0"), lit(false)).as("known"))
      .orderBy("doc_id", "variant")
  }

  /** Shared oracle CTE: variants + expected canon, all by arithmetic.
    * Ends in a `v(doc_id, variant, url, canon_url, canon_host)` CTE;
    * also composed by the [[Robots]] oracle. */
  private[graft] val variantCteSql: String =
    s"""b AS (SELECT doc_id, doc_id % $HostMod AS h, doc_id % $PathMod AS p,
       |             doc_id % $ParamMod AS a,
       |             unnest(generate_series(0, ${UrlVariants - 1})) AS variant
       |      FROM documents),
       |v AS (SELECT doc_id, CAST(variant AS INT) AS variant,
       |        CASE variant
       |          WHEN 0 THEN 'http://host'||h||'.example/p'||p||'?a='||a||'&b=2'
       |          WHEN 1 THEN 'HTTP://HOST'||h||'.EXAMPLE:80/p'||p ||
       |                      '?b=2&a='||a||'#sec'||doc_id
       |          WHEN 2 THEN 'http://host'||h||'.example:80/p'||p ||
       |                      '/?utm_source=feed&utm_campaign=c'||doc_id ||
       |                      '&a='||a||'&b=2'
       |          WHEN 3 THEN 'http://host'||h||'.example/p'||p ||
       |                      '?gclid=G'||doc_id||'&b=2&a='||a
       |          WHEN 4 THEN 'https://HOST'||h||'.example:443'
       |          ELSE 'doc '||doc_id||' not a url' END AS url,
       |        CASE WHEN variant <= 3
       |               THEN 'http://host'||h||'.example/p'||p||'?a='||a||'&b=2'
       |             WHEN variant = 4 THEN 'https://host'||h||'.example/'
       |             ELSE NULL END AS canon_url,
       |        CASE WHEN variant <= 4 THEN 'host'||h||'.example'
       |             ELSE NULL END AS canon_host
       |      FROM b)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("xf_url_canon", urlCanon,
      s"""WITH $variantCteSql
         |SELECT doc_id, variant, url, canon_url, canon_host
         |FROM v ORDER BY doc_id, variant""".stripMargin),
    QueryDef("dd_url_dedup", urlDedup,
      s"""WITH $variantCteSql
         |SELECT canon_url, COUNT(*) AS n_urls,
         |       COUNT(DISTINCT doc_id) AS n_docs,
         |       MIN(doc_id) AS first_doc_id
         |FROM v WHERE canon_url IS NOT NULL
         |GROUP BY 1 ORDER BY canon_url""".stripMargin),
    QueryDef("dd_url_incremental", urlIncremental, {
      val h = Curation.portableHashSql("doc_id")
      s"""WITH $variantCteSql,
         |cf AS (SELECT DISTINCT canon_url FROM v
         |       WHERE NOT (($h) % 10 = 0) AND canon_url IS NOT NULL)
         |SELECT v.doc_id, v.variant, v.url, v.canon_url,
         |       v.canon_url IS NOT NULL AS valid,
         |       cf.canon_url IS NOT NULL AS known
         |FROM v LEFT JOIN cf ON v.canon_url = cf.canon_url
         |WHERE ($h) % 10 = 0
         |ORDER BY v.doc_id, v.variant""".stripMargin
    }))
}
