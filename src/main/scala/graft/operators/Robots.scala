package graft.operators

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.UrlCanon


/** robots.txt compliance screen — the crawl-stack stage between link
  * discovery and fetch that the engine still lacked next to the
  * frontier screen: a crawler that ignores robots both misbehaves and
  * wastes fetch budget on pages operators mark worthless. The PARSER
  * is real ([[parse]]: comment stripping, case-insensitive directives,
  * consecutive `User-agent` lines sharing one group, specific-agent
  * groups overriding `*`, empty `Disallow` = allow-all, unknown
  * directives skipped); the robots corpus is synthesized per host by
  * pure arithmetic (the `mm_*`/Url precedent) so the DuckDB oracle
  * recomputes every verdict — a parser bug (an `evilbot` group leaking
  * into `*`, a mishandled comment, a missed agent override) breaks the
  * hash gate at every scale factor.
  *
  * Synthesized robots for `host{h}.example` (see [[robotsTxt]]):
  * an `evilbot` deny-all group on every 4th host (must NOT affect us),
  * the `*` group with `Crawl-delay: 1 + h%5` and
  * `Disallow: /private`, `Disallow: /p{h}`, and on every 3rd host a
  * `graftbot` group with an EMPTY Disallow — the specific-agent
  * override that allows everything and carries no delay.
  *
  * Scale shape: the rules table is HOST-sized (parsed once,
  * broadcast); the screen is one map-side prefix test per URL over the
  * canonical path — no shuffle besides the output ordering. The
  * per-row `exists` over the prefix array is a ≤2-element scan.
  */
object Robots {

  /** The crawler's own user-agent token. */
  val Agent = "graftbot"

  /** One agent group's rules for [[Agent]]: disallowed path prefixes
    * (empty values dropped — an empty `Disallow` allows all) and the
    * crawl delay if the group declared one. */
  final case class Rules(disallow: Seq[String], crawlDelay: Option[Long])

  /** Parse a robots.txt body for `agent`: groups are runs of
    * consecutive `User-agent` lines followed by directives; the first
    * group naming `agent` (case-insensitive) wins, else the first `*`
    * group, else allow-all. `#` starts a comment; directive names are
    * case-insensitive; unknown directives are skipped. */
  def parse(txt: String, agent: String = Agent): Rules = {
    final case class Group(agents: Seq[String], disallow: Seq[String],
        delay: Option[Long])
    val groups = Seq.newBuilder[Group]
    var agents = Seq.empty[String]
    var dis = Seq.empty[String]
    var delay: Option[Long] = None
    var inAgents = false
    var open = false
    def flush(): Unit = {
      if (open) groups += Group(agents, dis, delay)
      agents = Seq.empty; dis = Seq.empty; delay = None; open = false
    }
    txt.split("\n", -1).foreach { raw =>
      val noComment = raw.indexOf('#') match {
        case -1 => raw
        case i => raw.substring(0, i)
      }
      val line = noComment.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val name = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
          val value = line.substring(colon + 1).trim
          name match {
            case "user-agent" =>
              if (!inAgents) flush()
              agents = agents :+ value.toLowerCase(Locale.ROOT)
              inAgents = true; open = true
            case "disallow" =>
              inAgents = false
              if (open && value.nonEmpty) dis = dis :+ value
            case "crawl-delay" =>
              inAgents = false
              // ≤18 digits: inside Long range — an adversarial 20-digit
              // value parses as "no delay" instead of throwing in-task
              if (open && value.nonEmpty && value.length <= 18 &&
                  value.forall(_.isDigit))
                delay = Some(value.toLong)
            case _ => inAgents = false // unknown directive: skip
          }
        }
      }
    }
    flush()
    val all = groups.result()
    val a = agent.toLowerCase(Locale.ROOT)
    val chosen = all.find(_.agents.contains(a))
      .orElse(all.find(_.agents.contains("*")))
    chosen.map(g => Rules(g.disallow, g.delay)).getOrElse(Rules(Nil, None))
  }

  /** Deterministic per-host robots.txt body (see the object scaladoc);
    * shared by the query, the oracle arithmetic and RobotsSpec. */
  def robotsTxt(h: Long): String = {
    val sb = new StringBuilder(160)
    sb.append("# robots for host").append(h).append(".example\n")
    if (h % 4 == 0)
      sb.append("User-agent: EvilBot\nDisallow: /\n\n")
    sb.append("User-agent: *\n")
      .append("Crawl-delay: ").append(1 + h % 5).append('\n')
      .append("Disallow: /private\n")
      .append("Disallow: /p").append(h).append('\n')
    if (h % 3 == 0)
      sb.append("\nUser-Agent: ").append(Agent)
        .append("  # our own crawler\nDisallow:\n")
    sb.toString
  }

  /** The host-sized rules table: (host_id, disallow array, crawl_delay)
    * — robots parsed ONCE per host by the real parser, executor-side. */
  private[graft] def rulesTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(Url.HostMod).as[Long]
      .map { h =>
        val r = parse(robotsTxt(h))
        (h, r.disallow, r.crawlDelay)
      }
      .toDF("host_id", "disallow", "crawl_delay")
  }

  /** The rules table keyed by canonical HOST STRING — the static side
    * of the streaming robots screen
    * ([[graft.streaming.CrawlStreams.robotsScreenStream]]): arbitrary
    * arriving URLs join on `graft_url_host` output, not the synthetic
    * host index. */
  private[graft] def rulesByHost(spark: SparkSession): DataFrame =
    rulesTable(spark).select(
      concat(lit("host"), col("host_id").cast("string"), lit(".example"))
        .as("host"),
      col("disallow"), col("crawl_delay"))

  /** `xf_robots_screen`: every synthesized URL variant against its
    * host's robots rules — canonical host + path, the allow/deny
    * verdict for [[Agent]] (prefix match over the canonical
    * path+query, the standard Disallow semantics) and the crawl delay
    * the fetch scheduler must honor. Non-URLs are excluded — robots
    * semantics attach to a URL; the malformed-spelling census is
    * `xf_url_canon`'s row (and a NULL BOOLEAN would also hit the
    * driver gate's None-vs-NaN object-dtype mismatch). */
  def robotsScreen(spark: SparkSession, dir: String): DataFrame = {
    val v = Url.urlVariants(spark, dir)
      .select(col("doc_id"), col("variant"), col("url"),
        UrlCanon.canonCol(col("url")).as("canon_url"),
        UrlCanon.hostCol(col("url")).as("canon_host"))
      .withColumn("path",
        when(col("canon_url").isNotNull,
          regexp_replace(col("canon_url"), "^[a-z]+://[^/]+", "")))
      .withColumn("host_id",
        when(col("canon_host").isNotNull,
          regexp_extract(col("canon_host"), "^host(\\d+)\\.example$", 1)
            .cast("long")))
    v.where(col("path").isNotNull)
      .join(broadcast(rulesTable(spark)), Seq("host_id"), "left")
      .select(col("doc_id"), col("variant"), col("url"), col("canon_host"),
        col("path"),
        (!exists(col("disallow"), p => col("path").startsWith(p)))
          .as("allowed"),
        col("crawl_delay"))
      .orderBy("doc_id", "variant")
  }

  /** `xf_crawl_funnel`: the composed crawl-admission funnel over the
    * arriving batch (hash-split convention) — one row per stage with
    * the URL count entering the next fetch queue:
    *
    *   0 discovered → 1 valid (canonicalizable) → 2 robots-allowed →
    *   3 novel (canonical form not already in the corpus frontier) →
    *   4 frontier-distinct (one fetch per canonical page)
    *
    * The ops-dashboard rollup of the whole pre-fetch stack
    * ([[graft.functions.UrlCanon]] → [[robotsScreen]] semantics →
    * [[Url.frontier]] membership → URL dedup): where discovered links
    * actually go, and how much fetch budget each screen saves. Every
    * stage is the standalone operator's plan collapsed to a count —
    * map-side screens, one keyed anti-join, one distinct; output is
    * 5 metadata rows. */
  /** The funnel's four stage frames (batch, valid, allowed, novel) —
    * shared by [[crawlFunnel]]'s counts and [[CrawlBudget]]'s per-host
    * demand. All lazy. */
  private[graft] def funnelFrames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val isBatch = Curation.portableHash(col("doc_id")) % 10 === 0
    val v = Url.urlVariants(spark, dir)
      .select(col("doc_id"), isBatch.as("is_batch"), col("url"),
        UrlCanon.canonCol(col("url")).as("canon_url"),
        UrlCanon.hostCol(col("url")).as("canon_host"))
    val batch = v.where(col("is_batch"))
    val valid = batch.where(col("canon_url").isNotNull)
      .withColumn("path",
        regexp_replace(col("canon_url"), "^[a-z]+://[^/]+", ""))
      .withColumn("host_id",
        regexp_extract(col("canon_host"), "^host(\\d+)\\.example$", 1)
          .cast("long"))
    val allowed = valid
      .join(broadcast(rulesTable(spark)), Seq("host_id"), "left")
      .where(!exists(col("disallow"), p => col("path").startsWith(p)))
    val corpusFrontier = v.where(!col("is_batch"))
      .where(col("canon_url").isNotNull).select("canon_url").distinct()
    val novel = allowed.join(corpusFrontier, Seq("canon_url"), "left_anti")
    (batch, valid, allowed, novel)
  }

  /** The admitted-novel frame as a session-cached ARTIFACT — the
    * post-screen URL set every scheduler-side consumer reads
    * ([[CrawlBudget.crawlBudget]] demand, [[CrawlBudget.fetchSchedule]]
    * slots): derived once per corpus per session, one scan per reuse
    * (the [[Url.frontier]] contract). [[crawlFunnel]] itself stays on
    * the LAZY frames so Explain never executes it. */
  private[graft] def admittedNovel(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "crawl_novel")(funnelFrames(spark, dir)._4)

  def crawlFunnel(spark: SparkSession, dir: String): DataFrame = {
    val (batch, valid, allowed, novel) = funnelFrames(spark, dir)
    // one LAZY union of five 1-row aggregates — construction stays
    // plan-only (Explain/fingerprinting never executes the funnel),
    // and the action is a single job instead of five
    val stages: Seq[(Int, String, DataFrame)] = Seq(
      (0, "discovered", batch),
      (1, "valid", valid),
      (2, "robots_allowed", allowed),
      (3, "novel", novel),
      (4, "frontier_distinct", novel.select("canon_url").distinct()))
    stages.map { case (i, name, df) =>
      df.agg(count(lit(1)).as("n_urls"))
        .select(lit(i).as("stage"), lit(name).as("name"), col("n_urls"))
    }.reduce(_.unionAll(_)).orderBy("stage")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("xf_crawl_funnel", crawlFunnel, {
      val h = Curation.portableHashSql("doc_id")
      // batch split + per-stage arithmetic: valid = variants 0..4;
      // robots-allowed drops v0..v3 of hosts where str(p) startswith
      // str(h) unless the h%3=0 override allows all (v4's '/' always
      // passes); novel removes canon forms present in the corpus split
      // (the shared https root collides across docs on the same host)
      s"""WITH ${Url.variantCteSql},
         |fb AS (SELECT doc_id, variant, url, canon_url,
         |             doc_id % ${Url.HostMod} AS h,
         |             CASE WHEN variant <= 3
         |                    THEN '/p'||(doc_id % ${Url.PathMod})
         |                         ||'?a='||(doc_id % ${Url.ParamMod})||'&b=2'
         |                  WHEN variant = 4 THEN '/' END AS path,
         |             (($h) % 10 = 0) AS is_batch
         |      FROM v),
         |valid AS (SELECT * FROM fb WHERE is_batch AND canon_url IS NOT NULL),
         |allowed AS (
         |  SELECT * FROM valid
         |  WHERE h % 3 = 0 OR NOT (starts_with(path, '/private')
         |                          OR starts_with(path, '/p'||h))),
         |cf AS (SELECT DISTINCT canon_url FROM fb
         |       WHERE NOT is_batch AND canon_url IS NOT NULL),
         |novel AS (SELECT a.* FROM allowed a LEFT JOIN cf
         |          ON a.canon_url = cf.canon_url
         |          WHERE cf.canon_url IS NULL)
         |SELECT * FROM (
         |  SELECT 0 AS stage, 'discovered' AS name,
         |         (SELECT COUNT(*) FROM fb WHERE is_batch) AS n_urls
         |  UNION ALL SELECT 1, 'valid', (SELECT COUNT(*) FROM valid)
         |  UNION ALL SELECT 2, 'robots_allowed',
         |            (SELECT COUNT(*) FROM allowed)
         |  UNION ALL SELECT 3, 'novel', (SELECT COUNT(*) FROM novel)
         |  UNION ALL SELECT 4, 'frontier_distinct',
         |            (SELECT COUNT(DISTINCT canon_url) FROM novel)
         |) ORDER BY stage""".stripMargin
    }),
    QueryDef("xf_robots_screen", robotsScreen, {
      // verdicts recomputed from the synthesis arithmetic: hosts
      // h%3=0 carry the graftbot allow-all override (no delay), other
      // hosts deny path prefixes /private and /p{h} with delay 1+h%5
      s"""WITH ${Url.variantCteSql},
         |r AS (SELECT doc_id, variant, url, canon_host,
         |             doc_id % ${Url.HostMod} AS h,
         |             CASE WHEN variant <= 3
         |                    THEN '/p'||(doc_id % ${Url.PathMod})
         |                         ||'?a='||(doc_id % ${Url.ParamMod})||'&b=2'
         |                  WHEN variant = 4 THEN '/' END AS path
         |      FROM v)
         |SELECT doc_id, variant, url, canon_host, path,
         |       CASE WHEN h % 3 = 0 THEN TRUE
         |            ELSE NOT (starts_with(path, '/private')
         |                      OR starts_with(path, '/p'||h)) END AS allowed,
         |       CASE WHEN h % 3 = 0 THEN NULL
         |            ELSE 1 + h % 5 END AS crawl_delay
         |FROM r WHERE path IS NOT NULL
         |ORDER BY doc_id, variant""".stripMargin
    }))
}
