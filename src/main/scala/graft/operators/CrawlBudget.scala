package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-host crawl-budget allocator — the scheduling decision that sits
  * on top of the whole round-12 crawl stack: given a global fetch
  * budget for the next scheduling window, how many fetches does each
  * host get? Three signals meet, each an existing operator's output:
  *
  *   - DEMAND: how many admitted-novel URLs are waiting per host —
  *     the crawl funnel's stage-3 frame ([[Robots.funnelFrames]])
  *     rolled up by host;
  *   - CAPACITY: politeness — [[FetchWindow]] seconds divided by the
  *     host's robots crawl delay ([[Robots.rulesTable]]; hosts with
  *     the agent override or no robots get delay 1);
  *   - PRIORITY: the host-quality prior — [[Graph.hostRank]]'s
  *     PageRank, fixed to integer rank points (`FLOOR(pr·1e9)` — one
  *     IEEE multiply+floor, identical in both engines) so the
  *     allocation itself is ALL-INTEGER and bit-portable (the
  *     [[Curation.mixPlan]] discipline).
  *
  * Allocation rule (single-pass, deterministic): the global budget is
  * half the total demand (the mixPlan convention); each host's rank
  * share is `budget·points DIV points_tot` with the integer remainder
  * going one fetch each to the hosts with the largest
  * `(budget·points) MOD points_tot`, ties to the smaller host id
  * (largest-remainder apportionment — shares sum EXACTLY to the
  * budget); the final quota is `least(demand, capacity, share)` with
  * `binding` naming the constraint that bit (precedence
  * demand → robots → rank on ties). Slots freed by demand/politeness
  * clamps are NOT recursively refilled — a one-pass allocator is the
  * honest per-window semantics (the next window reallocates with the
  * next funnel's demand).
  *
  * Scale shape: the only corpus-sized work is the funnel's own plan
  * collapsed to a host-keyed partial-aggregating count; rank points,
  * delays and the allocation run on the HOST CATALOG. The largest-
  * remainder order is [[SkewUtils.prefixSum]]'s exact range-partitioned
  * global rank over `(rem_pts DESC, host_id ASC)` — O(H log H) at a
  * real crawl's 10⁶–10⁸ hosts, where the naive inequality self-join
  * (a broadcast nested loop Spark would otherwise plan) is O(H²).
  * The two totals are 1-row broadcast aggregates; quota/delay joins
  * downstream are plain equi-joins (AQE broadcasts them when the
  * catalog is small, shuffles when it is not).
  */
object CrawlBudget {

  /** Seconds per scheduling window: capacity = window DIV delay. */
  val FetchWindow = 600L

  /** `smp_crawl_budget` (see object scaladoc). The finished allocation
    * is a HOST-CATALOG table derived from corpus-sized inputs — exactly
    * the [[ArtifactCache]] train-once shape: one derivation per corpus
    * per session, and every consumer ([[fetchSchedule]],
    * [[recrawlPlan]], repeat invocations) reads the checkpoint. In
    * production the window's allocation is persisted beside the
    * frontier and loaded by the fetcher fleet, never recomputed per
    * consumer. */
  def crawlBudget(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "crawl_budget_alloc")(
      crawlBudgetBuild(spark, dir)).orderBy("host_id")

  private def crawlBudgetBuild(spark: SparkSession, dir: String): DataFrame = {
    val pr = Graph.hostRank(spark, dir)
      .select(col("host_id"), col("host"),
        floor(col("pagerank") * lit(1e9)).cast("long").as("points"))
    val demand = Robots.admittedNovel(spark, dir)
      .groupBy("host_id").agg(count(lit(1)).as("demand"))
    val delays = Robots.rulesTable(spark)
      .select(col("host_id"), col("crawl_delay"))
    // LAZY lineage cut: every downstream branch (tot, rp self-join,
    // rem, the final join) would otherwise re-run the funnel demand
    // rollup — the only corpus-sized work here — once each; the
    // checkpoint is the HOST-catalog frame, materialized once at
    // first action (construction stays plan-only)
    val base = pr
      .join(demand, Seq("host_id"), "left")
      .join(delays, Seq("host_id"), "left")
      .select(col("host_id"), col("host"), col("points"),
        coalesce(col("demand"), lit(0L)).as("demand"),
        expr(s"$FetchWindow DIV coalesce(crawl_delay, 1)").as("capacity"))
      .localCheckpoint(false)
    val tot = base.agg(sum("points").as("points_tot"),
      sum("demand").as("demand_tot"))
    val sh = base.crossJoin(broadcast(tot))
      .withColumn("budget", expr("demand_tot DIV 2"))
      .withColumn("share0", expr("budget * points DIV points_tot"))
      .withColumn("rem_pts", expr("(budget * points) % points_tot"))
    // largest-remainder order: exact 1-based global rank under
    // (rem_pts DESC, host_id ASC) via the range-partitioned prefix
    // sum — identical tie order to the oracle's strictly-before count,
    // never an O(H²) inequality self-join over the host catalog
    val idx = SkewUtils.prefixSum(
      sh.select(col("host_id"), col("rem_pts")),
      Seq(col("rem_pts").desc, col("host_id").asc), lit(1L), "idx")
      .select(col("host_id"), col("idx"))
    val rem = sh.agg((max("budget") - sum("share0")).as("rem"))
    sh.join(idx, Seq("host_id"))
      .crossJoin(broadcast(rem))
      .withColumn("share",
        col("share0") + when(col("idx") <= col("rem"), 1L).otherwise(0L))
      .withColumn("quota", least(col("demand"), col("capacity"), col("share")))
      .select(col("host_id"), col("host"), col("points"), col("demand"),
        col("capacity"), col("share"), col("quota"),
        when(col("quota") === col("demand"), "demand")
          .when(col("quota") === col("capacity"), "robots")
          .otherwise("rank").as("binding"))
  }

  /** The whole budget recompute as a WITH-body: ends in
    * `novel` (the admitted-novel URL rows, h = host) and
    * `alloc(host_id, host, points, demand, capacity, share, quota,
    * binding)`. Shared by the smp_crawl_budget and xf_fetch_schedule
    * oracles. */
  private val budgetCte: String = {
    val h = Curation.portableHashSql("doc_id")
    s"""${Graph.hostRankCte},
       |${Url.variantCteSql},
         |fb AS (SELECT doc_id, variant, url, canon_url,
         |             doc_id % ${Url.HostMod} AS h,
         |             CASE WHEN variant <= 3
         |                    THEN '/p'||(doc_id % ${Url.PathMod}) ||
         |                         '?a='||(doc_id % ${Url.ParamMod})||'&b=2'
         |                  WHEN variant = 4 THEN '/' END AS path,
         |             (($h) % 10 = 0) AS is_batch
         |      FROM v),
         |valid AS (SELECT * FROM fb WHERE is_batch AND canon_url IS NOT NULL),
         |allowed AS (
         |  SELECT * FROM valid
         |  WHERE h % 3 = 0 OR NOT (starts_with(path, '/private')
         |                          OR starts_with(path, '/p'||h))),
         |cfr AS (SELECT DISTINCT canon_url FROM fb
         |        WHERE NOT is_batch AND canon_url IS NOT NULL),
         |novel AS (SELECT a.* FROM allowed a LEFT JOIN cfr
         |          ON a.canon_url = cfr.canon_url
         |          WHERE cfr.canon_url IS NULL),
         |dem AS (SELECT h AS host_id, CAST(COUNT(*) AS BIGINT) AS demand
         |        FROM novel GROUP BY 1),
         |base AS (
         |  SELECT hp.host_id, hp.host,
         |         CAST(FLOOR(hp.pagerank * 1e9) AS BIGINT) AS points,
         |         CAST(COALESCE(dem.demand, 0) AS BIGINT) AS demand,
         |         CAST($FetchWindow // (CASE WHEN hp.host_id >= ${Url.HostMod}
         |                 OR hp.host_id % 3 = 0 THEN 1
         |               ELSE 1 + hp.host_id % 5 END) AS BIGINT) AS capacity
         |  FROM hostpr hp LEFT JOIN dem ON hp.host_id = dem.host_id),
         |tot AS (SELECT CAST(SUM(points) AS BIGINT) AS points_tot,
         |               CAST(SUM(demand) AS BIGINT) AS demand_tot
         |        FROM base),
         |sh AS (SELECT ba.*, demand_tot // 2 AS budget,
         |              (demand_tot // 2) * points // points_tot AS share0,
         |              ((demand_tot // 2) * points) % points_tot AS rem_pts
         |       FROM base ba, tot),
         |ix AS (SELECT a.host_id, 1 + COUNT(b.host_id) AS idx
         |       FROM sh a LEFT JOIN sh b
         |         ON b.rem_pts > a.rem_pts
         |            OR (b.rem_pts = a.rem_pts AND b.host_id < a.host_id)
         |       GROUP BY 1),
         |re AS (SELECT MAX(budget) - CAST(SUM(share0) AS BIGINT) AS rem
         |       FROM sh),
         |fin AS (SELECT s.host_id, s.host, s.points, s.demand, s.capacity,
         |               s.share0 + CASE WHEN ix.idx <= re.rem
         |                 THEN CAST(1 AS BIGINT) ELSE 0 END AS share
         |        FROM sh s JOIN ix ON s.host_id = ix.host_id, re),
         |alloc AS (
         |  SELECT host_id, host, points, demand, capacity, share,
         |         LEAST(demand, capacity, share) AS quota,
         |         CASE WHEN LEAST(demand, capacity, share) = demand
         |                THEN 'demand'
         |              WHEN LEAST(demand, capacity, share) = capacity
         |                THEN 'robots'
         |              ELSE 'rank' END AS binding
         |  FROM fin)""".stripMargin
  }

  /** `smp_recrawl_plan`: the freshness loop folded into the budget —
    * per host: how many of its sitemap-advertised pages are STALE
    * ([[Sitemap.staleness]]: lastmod newer than our last fetch), how
    * much politeness capacity the NOVEL quota left unused this window
    * (`slack = capacity − quota`), and the refresh quota
    * `least(refresh_demand, slack)` — recrawl rides the window's spare
    * capacity, never starves discovery (the production convention:
    * freshness is a background consumer of crawl budget). All-integer
    * on the host catalog; the staleness rollup is one host-keyed
    * partial-aggregating count. */
  def recrawlPlan(spark: SparkSession, dir: String): DataFrame = {
    val rdem = Sitemap.staleness(spark, dir)
      .where(col("stale"))
      .groupBy("host_id").agg(count(lit(1)).as("refresh_demand"))
    crawlBudget(spark, dir)
      .select(col("host_id"), col("host"), col("capacity"), col("quota"))
      .join(rdem, Seq("host_id"), "left")
      .select(col("host_id"), col("host"),
        coalesce(col("refresh_demand"), lit(0L)).as("refresh_demand"),
        (col("capacity") - col("quota")).as("slack"),
        least(coalesce(col("refresh_demand"), lit(0L)),
          col("capacity") - col("quota")).as("refresh_quota"))
      .orderBy("host_id")
  }

  /** `xf_refresh_schedule`: the recrawl plan EMITTED as a
    * politeness-spaced refresh plan — the freshness dual of
    * [[fetchSchedule]], completing the loop: [[recrawlPlan]] allocates
    * each host's refresh quota out of the window's SLACK capacity, and
    * this emits the concrete fetch slots the fetcher fleet consumes.
    * Per host, the stale known pages in the recrawl queue's own order
    * ([[Sitemap.recrawl]]'s `refresh_rank`: sitemap priority desc,
    * canonical URL as the unique tiebreaker) fill the host's
    * `refresh_quota`; the k-th refresh fetch is offset
    * `(quota + k − 1)·crawl_delay` seconds into the window — refresh
    * slots start AFTER the novel quota's last slot, so the two
    * schedules interleave politely on the same host connection.
    * `quota + refresh_quota ≤ capacity = FetchWindow DIV delay`
    * (refresh_quota ≤ slack by construction) guarantees every offset
    * lands inside the window (asserted in CI). All-integer.
    *
    * Scale shape: the per-host slot rank is [[SkewUtils.groupRank]]
    * over the (sitemap-sized) stale set; quotas and delays join on
    * host_id as plain equi-joins — the [[fetchSchedule]] discipline. */
  def refreshSchedule(spark: SparkSession, dir: String): DataFrame = {
    val stale = Sitemap.staleness(spark, dir)
      .where(col("stale"))
      .select(col("host_id"), col("canon_url"), col("priority"))
    val ranked = SkewUtils.groupRank(stale, "host_id",
      Seq(col("priority").desc, col("canon_url").asc), "slot")
    val quotas = recrawlPlan(spark, dir)
      .select(col("host_id"), col("refresh_quota"))
      .join(crawlBudget(spark, dir).select(col("host_id"), col("quota")),
        "host_id")
    val delays = Robots.rulesTable(spark)
      .select(col("host_id"), coalesce(col("crawl_delay"), lit(1L)).as("delay"))
    ranked
      .join(quotas, "host_id")
      .where(col("slot") <= col("refresh_quota"))
      .join(delays, Seq("host_id"), "left")
      .select(col("host_id"), col("slot").cast("int").as("slot"),
        col("canon_url"),
        coalesce(col("delay"), lit(1L)).as("delay"),
        ((col("quota") + col("slot").cast("long") - 1L)
          * coalesce(col("delay"), lit(1L))).as("fetch_offset_s"))
      .orderBy("host_id", "slot")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("xf_refresh_schedule", refreshSchedule,
      s"""WITH $budgetCte,
         |${Sitemap.sitemapCteSql},
         |${Sitemap.lastCrawlCteSql},
         |st AS (SELECT a.h AS host_id, a.canon_url, a.priority
         |       FROM alle a JOIN pages p ON a.canon_url = p.canon_url
         |       WHERE a.lastmod > p.last_crawl),
         |rk AS (SELECT host_id, canon_url,
         |              ROW_NUMBER() OVER (PARTITION BY host_id
         |                ORDER BY priority DESC, canon_url) AS slot
         |       FROM st),
         |rdem AS (SELECT host_id, CAST(COUNT(*) AS BIGINT) AS refresh_demand
         |         FROM st GROUP BY 1),
         |rq AS (SELECT al.host_id, al.quota,
         |              LEAST(COALESCE(rdem.refresh_demand, 0),
         |                    al.capacity - al.quota) AS refresh_quota
         |       FROM alloc al LEFT JOIN rdem ON al.host_id = rdem.host_id),
         |dl AS (SELECT host_id,
         |              CAST(CASE WHEN host_id >= ${Url.HostMod}
         |                     OR host_id % 3 = 0 THEN 1
         |                   ELSE 1 + host_id % 5 END AS BIGINT) AS delay
         |       FROM alloc)
         |SELECT rk.host_id, CAST(rk.slot AS INT) AS slot, rk.canon_url,
         |       dl.delay, (rq.quota + rk.slot - 1) * dl.delay AS fetch_offset_s
         |FROM rk JOIN rq USING (host_id) JOIN dl ON rk.host_id = dl.host_id
         |WHERE rk.slot <= rq.refresh_quota
         |ORDER BY host_id, slot""".stripMargin),
    QueryDef("smp_crawl_budget", crawlBudget,
      s"""WITH $budgetCte
         |SELECT * FROM alloc ORDER BY host_id""".stripMargin),
    QueryDef("smp_recrawl_plan", recrawlPlan,
      s"""WITH $budgetCte,
         |${Sitemap.sitemapCteSql},
         |${Sitemap.lastCrawlCteSql},
         |rdem AS (SELECT a.h AS host_id, COUNT(*) AS refresh_demand
         |         FROM alle a JOIN pages p ON a.canon_url = p.canon_url
         |         WHERE a.lastmod > p.last_crawl
         |         GROUP BY 1)
         |SELECT al.host_id, al.host,
         |       COALESCE(rdem.refresh_demand, 0) AS refresh_demand,
         |       al.capacity - al.quota AS slack,
         |       LEAST(COALESCE(rdem.refresh_demand, 0),
         |             al.capacity - al.quota) AS refresh_quota
         |FROM alloc al LEFT JOIN rdem ON al.host_id = rdem.host_id
         |ORDER BY al.host_id""".stripMargin),
    QueryDef("xf_fetch_schedule", fetchSchedule,
      s"""WITH $budgetCte,
         |dn AS (SELECT DISTINCT h AS host_id, canon_url FROM novel),
         |rk AS (SELECT host_id, canon_url,
         |              ROW_NUMBER() OVER (PARTITION BY host_id
         |                ORDER BY canon_url) AS slot
         |       FROM dn),
         |dl AS (SELECT host_id,
         |              CAST(CASE WHEN host_id >= ${Url.HostMod}
         |                     OR host_id % 3 = 0 THEN 1
         |                   ELSE 1 + host_id % 5 END AS BIGINT) AS delay
         |       FROM alloc)
         |SELECT rk.host_id, CAST(rk.slot AS INT) AS slot, rk.canon_url,
         |       dl.delay, (rk.slot - 1) * dl.delay AS fetch_offset_s
         |FROM rk JOIN alloc USING (host_id) JOIN dl ON rk.host_id = dl.host_id
         |WHERE rk.slot <= alloc.quota
         |ORDER BY host_id, slot""".stripMargin))

  /** `xf_fetch_schedule`: the budget EMITTED as a politeness-spaced
    * fetch plan — the scheduler output a fetcher fleet actually
    * consumes. Per host, the admitted-novel canonical pages
    * (frontier-distinct) in deterministic order (canonical URL asc —
    * unique within a host) fill the host's [[crawlBudget]] quota, the
    * k-th fetch offset `(k−1)·crawl_delay` seconds into the window;
    * `quota ≤ capacity = FetchWindow DIV delay` guarantees every
    * offset lands inside the window (asserted in CI). All-integer.
    *
    * Scale shape: the per-host slot rank is [[SkewUtils.groupRank]]
    * (a mega-host never funnels one window task); quotas and delays
    * join on host_id as PLAIN equi-joins — at 10⁸ hosts the catalog is
    * multi-GB and must never be a forced broadcast (AQE still
    * broadcasts it when it measures small); the distinct + rank
    * inherit the funnel's canonical-keyed shuffle. */
  def fetchSchedule(spark: SparkSession, dir: String): DataFrame = {
    val dn = Robots.admittedNovel(spark, dir)
      .select(col("host_id"), col("canon_url")).distinct()
    val ranked = SkewUtils.groupRank(dn, "host_id",
      Seq(col("canon_url").asc), "slot")
    val quotas = crawlBudget(spark, dir).select(col("host_id"), col("quota"))
    val delays = Robots.rulesTable(spark)
      .select(col("host_id"), coalesce(col("crawl_delay"), lit(1L)).as("delay"))
    ranked
      .join(quotas, "host_id")
      .where(col("slot") <= col("quota"))
      .join(delays, Seq("host_id"), "left")
      .select(col("host_id"), col("slot").cast("int").as("slot"),
        col("canon_url"),
        coalesce(col("delay"), lit(1L)).as("delay"),
        ((col("slot").cast("long") - 1L) * coalesce(col("delay"), lit(1L)))
          .as("fetch_offset_s"))
      .orderBy("host_id", "slot")
  }
}
