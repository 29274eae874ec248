package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sitemap ingestion — the discovery-side dual of the robots screen
  * ([[Robots]]): where robots.txt tells the crawler what it may NOT
  * fetch, the per-host sitemap tells it what the host WANTS fetched,
  * with freshness (`lastmod`) and `priority` hints that seed the
  * frontier scheduler. The PARSER is real ([[parse]]: XML comment
  * stripping — a commented-out `<url>` block must not surface —
  * `<url>` element scan, `<loc>`/`<lastmod>`/`<priority>` extraction,
  * entity decode of `&amp;`-escaped URLs, loc-less or unterminated
  * entries counted corrupt and skipped — the mm_* and WARC
  * tolerant-parse convention); the sitemap corpus is synthesized per
  * host by pure
  * arithmetic so the DuckDB oracle recomputes every emitted row — a
  * parser bug (entity left encoded, comment leaking, wrong element
  * boundary) breaks the hash gate at every scale factor.
  *
  * Synthesized sitemap for `host{h}.example` (see [[sitemapTxt]]):
  * `3 + h%3` well-formed entries whose `loc` spellings rotate through
  * clean / uppercase+default-port+fragment / tracking-param dressings
  * of the same canonical page (the [[graft.functions.UrlCanon]]
  * collapse, entity-escaped in the XML), plus on every 5th host a
  * non-URL loc (→ NULL canon, the corrupt-payload convention), plus a
  * loc-LESS entry every host that the parser must count-and-skip, and
  * a commented-out entry that must never surface.
  *
  * The screen composes the canonicalizer and the standing corpus
  * frontier ([[Url.frontier]]): each sitemap URL arrives canonical
  * with `known` telling the scheduler whether the page is already
  * crawled — the sitemap→frontier admission decision.
  *
  * Scale shape: sitemap fetch+parse is per-host executor work (the
  * sitemap table is HOST-catalog-sized); canonicalization is map-side
  * codegen; the frontier membership is ONE join keyed on the
  * collapsed canonical string (both sides hash-partition on it at
  * crawl scale; the frontier is the persisted index of
  * [[Url.frontier]], saved with [[ArtifactCache.save]]).
  */
object Sitemap {

  /** One parsed sitemap entry (strings as they appear, entities
    * decoded; absent elements None). */
  final case class Entry(loc: String, lastmod: Option[String],
      priority: Option[String])

  private def decode(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#39;", "'").replace("&amp;", "&")

  private def stripComments(xml: String): String = {
    val sb = new java.lang.StringBuilder(xml.length)
    var i = 0
    while (i < xml.length) {
      val at = xml.indexOf("<!--", i)
      if (at < 0) { sb.append(xml, i, xml.length); i = xml.length }
      else {
        sb.append(xml, i, at)
        val end = xml.indexOf("-->", at + 4)
        i = if (end < 0) xml.length else end + 3
      }
    }
    sb.toString
  }

  private def element(block: String, name: String): Option[String] = {
    val open = s"<$name>"
    val a = block.indexOf(open)
    if (a < 0) return None
    val b = block.indexOf(s"</$name>", a + open.length)
    if (b < 0) return None
    Some(decode(block.substring(a + open.length, b).trim))
  }

  /** Parse a sitemap body: (entries in document order, corrupt-entry
    * count). A `<url>` element missing its `<loc>` or its closing tag
    * is counted and skipped — corruption in one entry never fails the
    * sitemap. */
  def parse(xml: String): (Seq[Entry], Int) = {
    val body = stripComments(xml)
    val out = Vector.newBuilder[Entry]
    var corrupt = 0
    var i = 0
    var done = false
    while (!done) {
      val a = body.indexOf("<url>", i)
      if (a < 0) done = true
      else {
        val b = body.indexOf("</url>", a + 5)
        if (b < 0) { corrupt += 1; done = true }
        else {
          val block = body.substring(a + 5, b)
          element(block, "loc") match {
            case Some(loc) =>
              out += Entry(loc, element(block, "lastmod"),
                element(block, "priority"))
            case None => corrupt += 1
          }
          i = b + 6
        }
      }
    }
    (out.result(), corrupt)
  }

  /** Deterministic per-host sitemap body (see the object scaladoc);
    * shared by the query, the oracle arithmetic and SitemapSpec. */
  def sitemapTxt(h: Long): String = {
    val sb = new StringBuilder(512)
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      .append("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n")
      .append("<!-- generated for host").append(h)
      .append(" <url><loc>http://commented.example/x</loc></url> -->\n")
    (0L to 2L + h % 3).foreach { k =>
      val q = h * 31 + k
      val loc = (k % 3) match {
        case 0 => s"http://host$h.example/p${q % 97}?a=${q % 7}&b=2"
        case 1 => s"HTTP://HOST$h.EXAMPLE:80/p${q % 97}?a=${q % 7}&b=2#frag"
        case _ => s"http://host$h.example/p${q % 97}?utm_source=sm&a=${q % 7}&b=2"
      }
      sb.append("  <url><loc>").append(loc.replace("&", "&amp;"))
        .append("</loc><lastmod>2024-01-")
        .append(f"${1 + q % 28}%02d")
        .append("</lastmod><priority>0.").append(5 + q % 5)
        .append("</priority></url>\n")
    }
    if (h % 5 == 0)
      sb.append("  <url><loc>not a url ").append(h)
        .append("</loc><lastmod>2024-02-01</lastmod>")
        .append("<priority>0.1</priority></url>\n")
    sb.append("  <url><lastmod>2024-01-01</lastmod></url>\n") // loc-less: skipped
      .append("</urlset>\n")
    sb.toString
  }

  /** The parsed per-host sitemap entries: (host_id, seq, loc, lastmod
    * string, priority) — fetch+parse is per-host executor work. */
  private[graft] def entries(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(Url.HostMod).as[Long]
      .flatMap { h =>
        parse(sitemapTxt(h))._1.iterator.zipWithIndex.map { case (e, i) =>
          (h, i, e.loc, e.lastmod, e.priority)
        }
      }
      .toDF("host_id", "seq", "loc", "lastmod_s", "priority")
  }

  /** `xf_sitemap`: every sitemap entry canonicalized and screened
    * against the standing corpus frontier — per (host, entry): the
    * advertised spelling, its canonical URL (NULL for garbage locs),
    * the parsed freshness date and priority hint, and whether the
    * canonical page is already crawled. The discovery feed a frontier
    * scheduler merges, dressed spellings already collapsed. */
  def sitemapScreen(spark: SparkSession, dir: String): DataFrame =
    screenCore(spark, dir).orderBy("host_id", "seq")

  /** [[sitemapScreen]] without the output ordering — the shared core
    * [[recrawl]] composes (an inner ORDER BY would cost a pointless
    * range exchange mid-plan). */
  private def screenCore(spark: SparkSession, dir: String): DataFrame = {
    val e = entries(spark)
      .select(col("host_id"), col("seq"), col("loc"),
        graft.functions.UrlCanon.canonCol(col("loc")).as("canon_url"),
        to_date(col("lastmod_s")).as("lastmod"), col("priority"))
    e.join(Url.frontier(spark, dir).withColumn("known0", lit(true)),
        Seq("canon_url"), "left")
      .select(col("host_id"), col("seq"), col("loc"), col("canon_url"),
        col("lastmod"), col("priority"),
        coalesce(col("known0"), lit(false)).as("known"))
  }

  /** Every crawled page's last-fetch date, derived arithmetically from
    * the corpus (first arriving doc_id per canonical page — the
    * [[Url.urlDedup]] `first_doc_id` — mapped onto the same January
    * 2024 calendar the sitemap lastmods use): the crawl-ledger column a
    * production frontier stores per page, synthesized so the oracle
    * recomputes it. Shared by [[recrawl]] and
    * [[CrawlBudget.recrawlPlan]]. */
  private[operators] def lastCrawl(spark: SparkSession, dir: String): DataFrame =
    Url.urlVariants(spark, dir)
      .select(col("doc_id"),
        graft.functions.UrlCanon.canonCol(col("url")).as("canon_url"))
      .where(col("canon_url").isNotNull)
      .groupBy("canon_url")
      .agg(min("doc_id").as("first_doc_id"))
      .select(col("canon_url"),
        date_add(to_date(lit("2024-01-01")),
          (col("first_doc_id") % 28).cast("int")).as("last_crawl"))

  /** SQL twin of [[lastCrawl]] (needs [[Url.variantCteSql]]'s `v` in
    * scope). */
  private[operators] val lastCrawlCteSql: String =
    """pages AS (SELECT canon_url,
      |                 DATE '2024-01-01' + CAST(MIN(doc_id) % 28 AS INT)
      |                   AS last_crawl
      |          FROM v WHERE canon_url IS NOT NULL GROUP BY 1)""".stripMargin

  /** The KNOWN sitemap pages with their staleness verdict — shared by
    * [[recrawl]] (page grain), [[CrawlBudget.recrawlPlan]] (host
    * rollup) and [[CrawlBudget.refreshSchedule]] (slot emission):
    * sitemap `lastmod` vs the frontier's [[lastCrawl]] date; `stale` =
    * the host advertises a modification NEWER than our copy. A
    * session-cached [[ArtifactCache]] artifact (r15): the frame is
    * sitemap-sized but its [[lastCrawl]] input is a corpus-sized
    * canonical-keyed aggregate — before the cache, the three consumers
    * re-ran that aggregate once each (refreshSchedule derived it
    * TWICE: directly and via recrawlPlan). */
  private[operators] def staleness(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "sitemap_staleness")(
      screenCore(spark, dir)
        .where(col("known"))
        .join(lastCrawl(spark, dir), "canon_url")
        .select(col("host_id"), col("canon_url"), col("lastmod"),
          col("last_crawl"), col("priority"),
          (col("lastmod") > col("last_crawl")).as("stale")))

  /** `xf_recrawl`: the sitemap-lastmod recrawl screen — the freshness
    * loop on top of the discovery stack: per KNOWN (already crawled)
    * sitemap page, its advertised `lastmod` against the frontier's
    * last-fetch date, the staleness verdict, and — for stale pages —
    * the per-host refresh order (sitemap priority desc, canonical URL
    * as the unique tiebreaker), NULL for fresh pages. The queue a
    * recrawl scheduler drains before re-discovering anything.
    *
    * Scale shape: the staleness frame is sitemap-(host-catalog)-sized;
    * its one corpus-sized input is the frontier's canonical-keyed
    * first-arrival aggregate ([[lastCrawl]] — persisted alongside the
    * frontier in production); the refresh order is
    * [[SkewUtils.groupRank]], never a host-keyed window funnel. */
  def recrawl(spark: SparkSession, dir: String): DataFrame = {
    val st = staleness(spark, dir)
    val ranked = SkewUtils.groupRank(st.where(col("stale"))
        .select(col("host_id"), col("canon_url"), col("priority")),
      "host_id", Seq(col("priority").desc, col("canon_url").asc),
      "refresh_rank")
      .select(col("host_id"), col("canon_url"), col("refresh_rank"))
    st.join(ranked, Seq("host_id", "canon_url"), "left")
      .select(col("host_id"), col("canon_url"), col("lastmod"),
        col("last_crawl"), col("priority"), col("stale"),
        col("refresh_rank"))
      .orderBy("host_id", "canon_url")
  }

  /** The synthesized-sitemap arithmetic as a reusable WITH body ending
    * in `alle(h, seq, loc, canon_url, lastmod, priority)` — shared by
    * the xf_sitemap, xf_recrawl and smp_recrawl_plan oracles. */
  private[operators] val sitemapCteSql: String =
    s"""hosts AS (SELECT unnest(generate_series(0, ${Url.HostMod - 1})) AS h),
       |g AS (SELECT h, unnest(generate_series(0, 2 + h % 3)) AS k FROM hosts),
       |good AS (SELECT h, CAST(k AS INT) AS seq, h*31 + k AS q FROM g),
       |ge AS (SELECT h, seq,
       |         CASE seq % 3
       |           WHEN 0 THEN 'http://host'||h||'.example/p'||(q%97) ||
       |                       '?a='||(q%7)||'&b=2'
       |           WHEN 1 THEN 'HTTP://HOST'||h||'.EXAMPLE:80/p'||(q%97) ||
       |                       '?a='||(q%7)||'&b=2#frag'
       |           ELSE 'http://host'||h||'.example/p'||(q%97) ||
       |                '?utm_source=sm&a='||(q%7)||'&b=2' END AS loc,
       |         'http://host'||h||'.example/p'||(q%97) ||
       |           '?a='||(q%7)||'&b=2' AS canon_url,
       |         DATE '2024-01-01' + CAST(q % 28 AS INT) AS lastmod,
       |         '0.'||(5 + q % 5) AS priority
       |       FROM good),
       |bad AS (SELECT h, CAST(3 + h % 3 AS INT) AS seq,
       |               'not a url '||h AS loc,
       |               CAST(NULL AS VARCHAR) AS canon_url,
       |               DATE '2024-02-01' AS lastmod,
       |               '0.1' AS priority
       |        FROM hosts WHERE h % 5 = 0),
       |alle AS (SELECT * FROM ge UNION ALL SELECT * FROM bad)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("xf_sitemap", sitemapScreen,
      s"""WITH ${Url.variantCteSql},
         |cf AS (SELECT DISTINCT canon_url FROM v WHERE canon_url IS NOT NULL),
         |$sitemapCteSql
         |SELECT a.h AS host_id, a.seq, a.loc, a.canon_url, a.lastmod,
         |       a.priority, cf.canon_url IS NOT NULL AS known
         |FROM alle a LEFT JOIN cf ON a.canon_url = cf.canon_url
         |ORDER BY host_id, seq""".stripMargin),
    QueryDef("xf_recrawl", recrawl,
      s"""WITH ${Url.variantCteSql},
         |$sitemapCteSql,
         |$lastCrawlCteSql,
         |st AS (SELECT a.h AS host_id, a.canon_url, a.lastmod, p.last_crawl,
         |              a.priority, a.lastmod > p.last_crawl AS stale
         |       FROM alle a JOIN pages p ON a.canon_url = p.canon_url),
         |rk AS (SELECT host_id, canon_url,
         |              ROW_NUMBER() OVER (PARTITION BY host_id
         |                ORDER BY priority DESC, canon_url) AS refresh_rank
         |       FROM st WHERE stale)
         |SELECT st.host_id, st.canon_url, st.lastmod, st.last_crawl,
         |       st.priority, st.stale,
         |       CAST(rk.refresh_rank AS BIGINT) AS refresh_rank
         |FROM st LEFT JOIN rk ON st.host_id = rk.host_id
         |                    AND st.canon_url = rk.canon_url
         |ORDER BY st.host_id, st.canon_url""".stripMargin))
}
