package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Iterative graph analytics over the co-purchase graph.
  *
  * The graph is the bipartite customer↔product edge set of `sales`
  * (one undirected edge per DISTINCT pair — the interaction graph a
  * recommender or influence ranking runs on). PageRank here is the
  * template for the whole iterate-until-done family (label propagation,
  * HITS, diffusion embeddings): each round is ONE keyed join (edges ⋈
  * current scores, both sides partitioned by the join key) plus ONE
  * partial-aggregated groupBy on the destination — the plan a 1000-
  * executor cluster wants, with no driver-side data movement at all.
  *
  * Scale notes (100 TB contract):
  * - The edge list is the big table; it shuffles ONCE per round on the
  *   same key (`u`), so on a real cluster the edge table is bucketed by
  *   `u` and every round's join is exchange-free; scores (|V| rows, far
  *   smaller than |E|) are the only moving data.
  * - Rounds are a FIXED count ([[PagerankIters]]) — no driver-side
  *   convergence collect; each round's scores are checkpointed. The
  *   fixpoint loops (BFS, k-core, components) stop through [[Rounds]].
  * - Determinism: contributions are single IEEE divisions, per-node
  *   accumulation is fixed-point DECIMAL ([[Gold.moneySum]] discipline
  *   at [[PrScale]]), and the damping update is two correctly-rounded
  *   double ops — bit-identical under any partitioning, row order, or
  *   engine, which is what lets a DuckDB oracle hash-match an
  *   iterative double-valued fixpoint at all.
  */
object Graph {

  /** Fixed iteration count: rank mass moves < 0.85³ ≈ 0.61 of the way
    * to the fixpoint — enough to separate hubs from leaves, small
    * enough that the unrolled SQL oracle stays readable. */
  val PagerankIters = 3

  /** Fixed-point scale for the per-round contribution sums: ranks are
    * ~1/|V|, so 7 decimals keep sub-ulp resolution at the test scales
    * while DECIMAL(38,0) sums stay exact at any edge count. */
  val PrScale = 10000000L

  /** Undirected distinct edge list as (u, v) node ids: customers map to
    * even ids (2·customer_id), products to odd (2·product_id + 1).
    *
    * A session-cached [[ArtifactCache]] artifact: the edge list is the
    * canonical precomputed table of graph analytics — every engine
    * materializes it once from the fact source, then runs PageRank /
    * degrees / k-core over the materialization, never re-extracting
    * per query. Both directions are stored so every consumer reads
    * join-ready rows. */
  private[graft] def undirected(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "gr_bipartite") {
      val e = Tables.sales(spark, dir)
        .select((col("customer_id") * 2).as("u"),
          (col("product_id") * 2 + 1).as("v"))
        .distinct()
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    }

  /** General directed-graph PageRank over an arbitrary `(u, v)` edge
    * relation — the library template [[pagerank]] instantiates. Unlike
    * the earlier bipartite-only version, this handles DANGLING nodes
    * (sinks — nodes with no out-edge): their rank mass is redistributed
    * uniformly each round via a 1-row fixed-point aggregate over the
    * sink nodes (an anti-join against the out-degree table), broadcast
    * into the update exactly like the node-count normalizer. Without
    * the term, sinks leak `d · Σ pr(sinks)` of total mass per round
    * and ranks drift toward the teleport floor. Nodes with no IN-edge
    * are kept by a left join (they hold the teleport + dangling share).
    *
    * Determinism: the dangling sum uses the same FLOOR-at-[[PrScale]]
    * DECIMAL discipline as the contribution sums, so the result stays
    * bit-identical under any partitioning and oracle-expressible. */
  def pagerankOn(spark: SparkSession, edges: DataFrame,
      iters: Int = PagerankIters): DataFrame =
    rankRounds(spark, edges, iters) { (e, deg) =>
      val np = spark.sessionState.conf.numShufflePartitions
      // nodes with the dangling flag attached ONCE (sinks = no out-edge):
      // the per-round dangling mass is then a filter+agg over the score
      // vector instead of an anti-join against deg — identical row set.
      val base = e.select("u").unionAll(e.select(col("v").as("u")))
        .distinct()
        .join(deg.select(col("u"), lit(true).as("has_out")), Seq("u"), "left")
        .select(col("u"), coalesce(col("has_out"), lit(false)).as("has_out"))
        .repartition(np, col("u")).localCheckpoint()
      // 1-row node-count normalizer, broadcast into every round — the
      // ath_product_analysis shape, never a driver collect
      val n = base.agg(count(lit(1)).cast("double").as("nd"))
      val start = base.crossJoin(broadcast(n))
        .select(col("u"), col("has_out"), (lit(1.0) / col("nd")).as("pr"))
      (start, (msgs, dangling) => base.join(msgs, Seq("u"), "left")
        .crossJoin(broadcast(n)).crossJoin(broadcast(dangling))
        .select(col("u"), col("has_out"),
          (lit(0.15) / col("nd") + lit(0.85) *
            (coalesce(col("s"), zeroDec).cast("double") / lit(PrScale)
              + col("ds").cast("double") / lit(PrScale) / col("nd"))).as("pr")))
    }

  private def zeroDec = lit(0).cast(DecimalType(38, 0))

  /** The setup and rounds [[pagerankOn]] and [[trustrankOn]] share.
    * `scores(e, deg)` gets the checkpointed edge list and its out-degree
    * table; it returns the start vector `(u, has_out, pr, …)` and the
    * update from one round's aggregates — `msgs (u, s)`, the DECIMAL
    * contribution sums into `u`, and the 1-row sink mass `dangling (ds)`
    * — to the next vector. Returns `(u, pr)`. */
  private def rankRounds(spark: SparkSession, edges: DataFrame, iters: Int)(
      scores: (DataFrame, DataFrame) =>
        (DataFrame, (DataFrame, DataFrame) => DataFrame)): DataFrame = {
    val np = spark.sessionState.conf.numShufflePartitions
    val e = edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v")).localCheckpoint()
    val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
    // ROUND-INVARIANT: `ed` attaches the out-degree once and checkpoints
    // HASH-PARTITIONED BY u (localCheckpoint preserves partitioning in
    // the LogicalRDD), so each round's edges⋈scores join exchanges only
    // the nodes-sized score vector — the cluster analog is the bucketed
    // edge table SURVEY §5 documents.
    val ed = e.join(deg, "u").repartition(np, col("u")).localCheckpoint()
    val (start, update) = scores(e, deg)
    (1 to iters).foldLeft(start) { (pr, _) =>
      val msgs = ed
        .join(pr.select("u", "pr"), "u")
        .select(col("v").as("u"),
          floor((col("pr") / col("deg")) * lit(PrScale))
            .cast(DecimalType(38, 0)).as("c"))
        .groupBy("u").agg(sum("c").as("s"))
      val dangling = pr.where(!col("has_out"))
        .agg(coalesce(sum(floor(col("pr") * lit(PrScale))
          .cast(DecimalType(38, 0))), zeroDec).as("ds"))
      // truncate lineage per round: without this, round k's plan
      // re-plans (and the dangling 1-row aggregate RE-EXECUTES)
      // every earlier round inline — the committed 3-round plan
      // carried 66 shuffle exchanges; checkpointed it carries a
      // constant handful per round. Standard iterative-graph
      // hygiene; the checkpoint is nodes-sized.
      update(msgs, dangling).localCheckpoint()
    }.select("u", "pr")
  }

  /** `gr_pagerank`: damped PageRank (d = 0.85) after [[PagerankIters]]
    * synchronous rounds from the uniform start, over the undirected
    * customer↔product graph ([[pagerankOn]]). Emits `(node_id, kind,
    * entity_id, pagerank)` — the influence ranking of both sides of
    * the market in one pass. (Every node here has degree ≥ 1, so the
    * dangling term contributes exactly zero — but it is in the plan
    * and the oracle, so the operator is correct on general graphs.) */
  def pagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOn(spark, undirected(spark, dir))
      .select(col("u").as("node_id"),
        when(col("u") % 2 === 0, "customer").otherwise("product").as("kind"),
        expr("u DIV 2").as("entity_id"),
        col("pr").as("pagerank"))
      .orderBy("node_id")

  /** The host→host link edge list recovered through the REAL
    * extraction path (anchor lexer → host canonicalizer) — the
    * session-cached artifact [[hostRank]] and [[hostTrust]] both rank
    * over (a production crawler materializes it once per snapshot). */
  private[graft] def hostEdges(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "gr_host_edges") {
      Html.linkPages(spark, dir)
        .select(col("src_host").as("u"),
          explode(graft.functions.HtmlExtract.linksCol(col("html")))
            .as("href"))
        .select(col("u"),
          graft.functions.UrlCanon.hostCol(col("href")).as("dhost"))
        .where(col("dhost").isNotNull)
        .where(col("dhost").rlike("^host\\d+\\.example$"))
        .select(col("u"),
          regexp_extract(col("dhost"), "^host(\\d+)\\.example$", 1)
            .cast("long").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

  /** `gr_host_rank`: PageRank over the host→host link graph recovered
    * from the HTML corpus — the standard crawl-quality prior
    * (CCNet/RefinedWeb class): a host endorsed by many well-endorsed
    * hosts outranks link farms, and the score feeds document-level
    * sampling weights far upstream of any content signal.
    *
    * The pipeline is the real extraction path end-to-end: synthesized
    * link pages ([[Html.linkPages]]) → `graft_html_links` (anchors
    * inside scripts/comments never surface) → `graft_url_host`
    * (case/port/tracking noise collapses) → a distinct host→host edge
    * list (self-links dropped as navigation noise) → the general
    * dangling-mass [[pagerankOn]] (the sink host — linked-to but
    * hosting no pages — exercises the dangling term with real mass).
    * The DuckDB oracle recomputes the edge list by the synthesis
    * arithmetic and unrolls the same fixed-round PageRank, so a bug
    * anywhere in extract → canonicalize → rank breaks the hash gate.
    *
    * Scale shape: link extraction + host canonicalization are one
    * map-side codegen pass over the page scan; the edge list collapses
    * by DISTINCT on the (src, dst) host pair (hosts ≪ pages — at crawl
    * scale a pre-aggregation keyed on the host pair); the rank loop is
    * [[pagerankOn]]'s host-count-sized iteration. */
  def hostRank(spark: SparkSession, dir: String): DataFrame =
    pagerankOn(spark, hostEdges(spark, dir))
      .select(col("u").as("host_id"),
        concat(lit("host"), col("u").cast("string"), lit(".example")).as("host"),
        col("pr").as("pagerank"))
      .orderBy("host_id")

  /** Biased (seed-teleport) PageRank — TrustRank (Gyöngyi, Garcia-
    * Molina & Pedersen, VLDB 2004) — over an arbitrary directed
    * `(u, v)` edge relation: identical propagation, damping and
    * fixed-point discipline to [[pagerankOn]], but BOTH the teleport
    * and the dangling-mass redistribution land on the SEED
    * distribution (1/|S| per seed, 0 elsewhere) instead of uniformly,
    * so trust flows only along links reachable from the vetted
    * whitelist — link farms that loop among themselves collect
    * PageRank but no trust. Same rounds ([[rankRounds]]); the seed
    * vector is a nodes-sized checkpointed frame joined per round. */
  def trustrankOn(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      iters: Int = PagerankIters): DataFrame =
    rankRounds(spark, edges, iters) { (e, deg) =>
      val np = spark.sessionState.conf.numShufflePartitions
      val nodes = e.select("u").unionAll(e.select(col("v").as("u")))
        .distinct().localCheckpoint()
      // seeds are clipped to the graph's node set BEFORE |S| is counted:
      // a whitelist entry with no edges would otherwise inflate ns and
      // leave the teleport vector summing < 1 — silently diverging from
      // any oracle that derives its seed count from the graph itself
      val sd = seeds.select(col("u").cast("long").as("u")).distinct()
        .join(nodes, Seq("u"), "left_semi")
        .withColumn("is_seed", lit(true))
      val ns = sd.agg(count(lit(1)).cast("double").as("ns"))
      // the seed vector carries the dangling flag, so every round's sink
      // mass is a filter+agg over the score vector (no anti-join)
      val sv = nodes.join(broadcast(sd), Seq("u"), "left")
        .join(deg.select(col("u"), lit(true).as("has_out")), Seq("u"), "left")
        .crossJoin(broadcast(ns))
        .select(col("u"),
          when(coalesce(col("is_seed"), lit(false)), lit(1.0) / col("ns"))
            .otherwise(lit(0.0)).as("sv"),
          coalesce(col("has_out"), lit(false)).as("has_out"))
        .repartition(np, col("u")).localCheckpoint()
      val start = sv.select(col("u"), col("sv"), col("has_out"),
        col("sv").as("pr"))
      (start, (msgs, dangling) => sv.join(msgs, Seq("u"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("u"), col("sv"), col("has_out"),
          (lit(0.15) * col("sv") + lit(0.85) *
            (coalesce(col("s"), zeroDec).cast("double") / lit(PrScale)
              + col("ds").cast("double") / lit(PrScale) * col("sv"))).as("pr")))
    }

  /** `gr_host_trust`: TrustRank + spam mass over the host link graph —
    * the crawl-side spam screen beside [[hostRank]]'s quality prior.
    * Seeds are the arithmetically-vetted whitelist (every 3rd host —
    * the same hosts whose robots carry the agent override, a defensible
    * "manually reviewed" set); output per host: the trust score, the
    * unbiased PageRank, and SPAM MASS `(pr − trust)/pr` — the fraction
    * of a host's rank not backed by trusted endorsement (Gyöngyi et
    * al. §5; ≈1 flags rank built by farms, ≤0 the seeds themselves).
    * Both ranks share one cached edge artifact; the oracle unrolls
    * both fixed-round recursions and recomputes spam mass in the same
    * two IEEE ops. */
  def hostTrust(spark: SparkSession, dir: String): DataFrame = {
    val edges = hostEdges(spark, dir)
    val seeds = spark.range(Url.HostMod).select(col("id").as("u"))
      .where(col("u") % 3 === 0)
    trustrankOn(spark, edges, seeds)
      .select(col("u").as("host_id"), col("pr").as("trust"))
      .join(pagerankOn(spark, edges)
        .select(col("u").as("host_id"), col("pr").as("pagerank")), "host_id")
      .select(col("host_id"),
        concat(lit("host"), col("host_id").cast("string"), lit(".example"))
          .as("host"),
        col("trust"), col("pagerank"),
        ((col("pagerank") - col("trust")) / col("pagerank")).as("spam_mass"))
      .orderBy("host_id")
  }

  /** Synchronous rounds for [[labelprop]] — fixed, like
    * [[PagerankIters]], so the result is a well-defined function of
    * the input rather than a convergence race. */
  val LabelpropIters = 3

  /** Deterministic synchronous label propagation over an arbitrary
    * undirected `(u, v)` edge relation (both directions present):
    * labels start as the node id; each round every node adopts the
    * most frequent label among its NEIGHBORS, ties broken by smallest
    * label (the randomized tie-break of Raghavan et al. 2007 made
    * deterministic so the operator is oracle-expressible). Fixed
    * [[LabelpropIters]] rounds — sync LPA on a bipartite graph can
    * two-color-oscillate rather than converge, so a fixed-round
    * snapshot is the honest semantics.
    *
    * Scale shape per round: one edges⋈labels join keyed on the
    * neighbor, a (node, label) partial agg, then ONE node-keyed
    * argmax — max over a (count, −label) struct, so "most frequent,
    * smallest label on ties" is a single partial-aggregating groupBy
    * (no per-node window, no max-then-equi-join round trip: a
    * celebrity node never funnels one task and each round costs
    * exactly two exchanges). Lineage truncated per round like
    * [[pagerankOn]]. */
  def labelpropOn(spark: SparkSession, edges: DataFrame,
      iters: Int = LabelpropIters): DataFrame = {
    val np = spark.sessionState.conf.numShufflePartitions
    // checkpoint hash-partitioned by v — the per-round join key — so
    // each round exchanges only the nodes-sized label vector, never
    // the edge table (the [[pagerankOn]] r15 restructure)
    val e = edges.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
      .repartition(np, col("v")).localCheckpoint()
    // und edge lists are symmetric, so every node appears as u
    val nodes = e.select("u").distinct().localCheckpoint()
    var lbl = nodes.select(col("u"), col("u").as("lbl"))
    (1 to iters).foreach { _ =>
      lbl = e.join(lbl.withColumnRenamed("u", "v"), "v")
        .groupBy("u", "lbl").agg(count(lit(1)).as("c"))
        .groupBy("u")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("best"))
        .select(col("u"), (-col("best.nl")).as("lbl"))
        .localCheckpoint()
    }
    lbl
  }

  /** `gr_labelprop`: community labels of the customer↔product graph
    * after [[LabelpropIters]] synchronous rounds ([[labelpropOn]]) —
    * the cheap community-detection pass run before modularity-style
    * audits; unlike [[components]] it splits CONNECTED regions into
    * densely-linked neighborhoods. */
  def labelprop(spark: SparkSession, dir: String): DataFrame =
    labelpropOn(spark, undirected(spark, dir))
      .select(col("u").as("node_id"),
        when(col("u") % 2 === 0, "customer").otherwise("product").as("kind"),
        expr("u DIV 2").as("entity_id"),
        col("lbl").as("label"))
      .orderBy("node_id")

  /** Synchronous rounds for [[hits]]. */
  val HitsIters = 3

  /** `gr_hits`: Kleinberg hub/authority scores over the DIRECTED
    * customer→product purchase relation — customers are hubs ("buys
    * across the influential catalog"), products authorities ("bought
    * by the influential buyers"); the two-sided influence view
    * [[pagerank]]'s single score conflates. [[HitsIters]] synchronous
    * rounds; each half-step L1-normalizes (the textbook L2 norm needs
    * a sqrt over a SUM whose addition order varies — L1 keeps the
    * normalizer an exact fixed-point DECIMAL aggregate, so the result
    * is bit-identical under any partitioning and oracle-expressible;
    * rankings are norm-invariant).
    *
    * Scale shape per half-step: one edges⋈scores join keyed on the
    * scored side + one partial-agg on the other side + a broadcast
    * 1-row total — the [[pagerankOn]] plan class, lineage checkpointed
    * per half-step. Score mass is floored at [[PrScale]] before each
    * DECIMAL sum; finished sums stay < 2⁵³ so the double casts are
    * exact in both engines (the [[Gold.priceSlopeOf]] caution). */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val np = spark.sessionState.conf.numShufflePartitions
    val e0 = Tables.sales(spark, dir)
      .select(col("customer_id").as("u"), col("product_id").as("v"))
      .distinct()
    // TWO partitioned checkpoints of the edge list — by u for the
    // hub→auth half-step, by v for auth→hub — so no half-step ever
    // re-exchanges the edge table; only the node-sized score vector
    // moves per round (the [[pagerankOn]] r15 restructure; on a
    // cluster these are the two bucketed copies of the edge table)
    val eU = e0.repartition(np, col("u")).localCheckpoint()
    val eV = eU.repartition(np, col("v")).localCheckpoint()
    var hub = eU.select("u").distinct().select(col("u"), lit(1.0).as("h"))
    var auth: DataFrame = null
    (1 to HitsIters).foreach { _ =>
      // checkpoint the RAW sums, not the normalized scores: the total
      // and the normalize both read them, so an un-checkpointed ar/hr
      // would run the edges⋈scores join twice per half-step (MEASURED
      // r16, not assumed: the one-checkpoint variant relied on
      // ReuseExchange to dedupe the double reference, and it does NOT
      // fire across the broadcast-total branch — summed task time rose
      // 23→32 s and shuffle bytes 56→85 MB at sf0.1)
      val ar = eU.join(hub, "u").groupBy("v")
        .agg(sum(floor(col("h") * lit(PrScale)).cast(dec)).as("ar"))
        .localCheckpoint()
      val at = ar.agg(sum("ar").as("at"))
      auth = ar.crossJoin(broadcast(at))
        .select(col("v"),
          (col("ar").cast("double") / col("at").cast("double")).as("a"))
      val hr = eV.join(auth, "v").groupBy("u")
        .agg(sum(floor(col("a") * lit(PrScale)).cast(dec)).as("hr"))
        .localCheckpoint()
      val ht = hr.agg(sum("hr").as("ht"))
      hub = hr.crossJoin(broadcast(ht))
        .select(col("u"),
          (col("hr").cast("double") / col("ht").cast("double")).as("h"))
    }
    hub.select(lit("customer").as("kind"), col("u").as("entity_id"),
        col("h").as("score"))
      .unionAll(auth.select(lit("product").as("kind"),
        col("v").as("entity_id"), col("a").as("score")))
      .orderBy("kind", "entity_id")
  }

  /** `gr_degrees`: degree distribution of the co-purchase graph per
    * node kind — the first diagnostic run on any graph (skew here
    * predicts bucket skew in every downstream keyed join; a power-law
    * tail is what the mega-bucket caps elsewhere defend against).
    * Two partial-aggregated groupBys: node degrees, then counts per
    * (kind, degree). */
  def degrees(spark: SparkSession, dir: String): DataFrame =
    undirected(spark, dir)
      .groupBy("u").agg(count(lit(1)).as("degree"))
      .select(
        when(col("u") % 2 === 0, "customer").otherwise("product").as("kind"),
        col("degree"))
      .groupBy("kind", "degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("kind", "degree")

  /** Minimum co-purchase support (shared baskets) for a product–product
    * edge. Raw co-occurrence over baskets grows dense (every pair that
    * ever shared one order); requiring ≥2 shared baskets is the standard
    * association-graph densifier guard — it keeps |E| near-linear in the
    * catalog under random baskets, which is what bounds the wedge join
    * below at any corpus size. */
  val TriMinSupport = 2

  /** Canonical (a < b) basket co-occurrence counts — the materialized
    * association table every co-purchase analytic reads. Pair
    * expansion is basket-keyed (multiplicity ≤ per-order distinct
    * products, ≤7 by construction of the fact), then ONE partial-
    * aggregated pair count — the [[Gold.basketAffinity]] shape.
    *
    * A session-cached [[ArtifactCache]] artifact: eight graph queries
    * (triangles, clustering coefficient, edge Jaccard, components,
    * BFS, assortativity, support histogram, and their degree tables)
    * consume this one table; deriving the basket self-join per query
    * repeated the family's dominant shuffle eight times. */
  private def pairCounts(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "gr_pair_counts") {
      val b = Tables.sales(spark, dir)
        .select(expr("transaction_id DIV 10").as("basket_id"),
          col("product_id"))
        .distinct()
      b.join(b.select(col("basket_id"), col("product_id").as("pb")),
          Seq("basket_id"))
        .where(col("product_id") < col("pb"))
        .groupBy(col("product_id").as("a"), col("pb").as("b"))
        .agg(count(lit(1)).as("n_co"))
    }

  /** Support-filtered co-purchase edges: a cheap filter over the
    * cached [[pairCounts]] artifact. */
  private def coEdges(spark: SparkSession, dir: String): DataFrame =
    pairCounts(spark, dir)
      .where(col("n_co") >= TriMinSupport)
      .select("a", "b")

  /** `gr_triangles`: exact per-product triangle participation counts in
    * the co-purchase graph — the community/cohesion signal (a product in
    * many triangles sits in a dense substitute/complement cluster, not
    * just a popular hub; degree alone can't tell those apart).
    *
    * Algorithm: degree-ordered orientation (Ortmann & Brandes / the
    * classic compact-forward scheme). Every canonical edge is oriented
    * from its (degree, id)-smaller endpoint; wedges are enumerated at
    * their minimum-order vertex by self-joining oriented edges on the
    * source, and closed by ONE equi-join against the oriented edge set.
    * Each triangle is found exactly once, and per-node out-degree is
    * O(√|E|) — so wedge work is bounded by |E|^1.5 REGARDLESS of hub
    * skew, the property that lets the same plan run on a power-law
    * catalog at 1000× scale. Id-order enumeration (the oracle's triple
    * join) yields the identical triangle set, so the result is exactly
    * oracle-checkable while the Spark plan keeps the skew-safe shape.
    * All three joins are keyed equi-joins (no cartesian anywhere);
    * the per-node count is one partial-aggregated groupBy. */
  def triangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(coEdges(spark, dir))

  /** [[triangles]] over a caller-provided (ideally checkpointed) edge
    * set — lets compositions ([[clusteringCoeff]]) reuse ONE
    * materialized edge list for degrees and wedges. */
  /** Each triangle exactly once as (src, v, w) in the compact-forward
    * (degree, id) orientation — the skew-bounded enumeration shared by
    * [[trianglesOf]] (per-node counts) and [[edgeJaccard]] (per-edge
    * support). */
  private def triangleTriples(e: DataFrame): DataFrame = {
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
    val lower = col("dega") < col("degb") ||
      (col("dega") === col("degb") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("a"), col("deg").as("dega")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("deg").as("degb")), Seq("b"))
      .select(
        when(lower, col("a")).otherwise(col("b")).as("src"),
        when(lower, col("b")).otherwise(col("a")).as("dst"),
        when(lower, col("degb")).otherwise(col("dega")).as("ddeg"))
      .localCheckpoint()
    val w1 = oriented.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
    val w2 = oriented.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
    val wedges = w1.join(w2, Seq("src"))
      .where(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    // the closing edge v–w, if present, is oriented v→w (v precedes w
    // in the same (deg, id) order the wedge filter used)
    wedges.join(
        oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .select("src", "v", "w")
  }

  def trianglesOf(e: DataFrame): DataFrame = {
    val tri = triangleTriples(e)
    tri.select(col("src").as("p"))
      .unionAll(tri.select(col("v").as("p")))
      .unionAll(tri.select(col("w").as("p")))
      .groupBy(col("p").as("product_id"))
      .agg(count(lit(1)).as("triangles"))
      .orderBy("product_id")
  }

  /** BFS round cap — also the semantic distance horizon: both engines
    * score only nodes within this many hops (identical cut). */
  val BfsMaxRounds = 20

  /** `gr_bfs_distance`: exact hop distance from the catalog HUB (the
    * max-degree product, ties to the smallest id) to every reachable
    * product in the support-filtered co-purchase graph, capped at
    * [[BfsMaxRounds]] hops — "how far is this item from the center of
    * the co-purchase universe", the merchandising locality measure
    * behind cross-sell reach (read with [[components]]: same frontier
    * machinery, distance instead of membership).
    *
    * Scale shape: classic frontier BFS — each round is ONE keyed
    * equi-join of the (shrinking) frontier against the edge list plus
    * an anti-join against the visited set, both co-keyed on node id;
    * the visited set is the [[Rounds.fixpoint]] state and the frontier
    * its `dist = round` slice. The seed is a 1-row
    * TakeOrdered. The DuckDB oracle replays the identical search as a
    * bounded recursive CTE, so the result is exact at every SF. */
  def bfsDistance(spark: SparkSession, dir: String): DataFrame =
    bfsDistanceOn(coEdges(spark, dir))
      .select(col("node").as("product_id"), col("dist"))
      .orderBy("product_id")

  /** [[bfsDistance]]'s search over an undirected edge list `(a, b)`,
    * one row per edge: `(node, dist)` from the max-degree node. */
  private[graft] def bfsDistanceOn(e: DataFrame): DataFrame = {
    val np = e.sparkSession.sessionState.conf.numShufflePartitions
    // partitioned by the probe key once: every BFS round joins the
    // frontier on `a`, so the edge table never re-exchanges (the
    // [[pagerankOn]] r15 restructure)
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .repartition(np, col("a")).localCheckpoint()
    val deg = und.groupBy("a").agg(count(lit(1)).as("d"))
    val seed = deg.orderBy(col("d").desc, col("a")).limit(1)
      .select(col("a").as("node"), lit(0L).as("dist"))
    // the visited set only grows: an unchanged count is an empty frontier
    Rounds.fixpoint(seed, BfsMaxRounds)(Rounds.rowCount) { (dist, round) =>
      val frontier = dist.where(col("dist") === round)
      dist.unionAll(frontier
        .join(und, frontier("node") === und("a"))
        .select(col("b").as("node"), (col("dist") + 1).as("dist"))
        .distinct()
        .join(dist.select("node"), Seq("node"), "left_anti"))
    }
  }

  /** `gr_edge_jaccard`: neighbor-set Jaccard per co-purchase edge —
    * |N(a)∩N(b)| / |N(a)∪N(b)| for every support-filtered edge (a,b).
    * The substitute-vs-complement signal: a high-Jaccard edge joins
    * products bought alongside the SAME basket neighborhood (likely
    * substitutes/accessories of one cluster); a low-Jaccard edge
    * bridges communities. Per-edge refinement of [[clusteringCoeff]]'s
    * per-node density.
    *
    * |N(a)∩N(b)| is the edge's triangle support, from the SAME
    * degree-oriented [[triangleTriples]] enumeration as
    * [[triangles]] — wedge work stays |E|^1.5-bounded under hub skew —
    * exploded to the three canonical edges of each triangle and
    * partial-agg counted; |N(a)∪N(b)| = deg(a) + deg(b) − |∩| from one
    * degree aggregate joined on each endpoint. Zero-support edges stay
    * present via the left join (jaccard 0). */
  def edgeJaccard(spark: SparkSession, dir: String): DataFrame = {
    val e = coEdges(spark, dir)
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy("a").agg(count(lit(1)).as("d"))
    val tri = triangleTriples(e)
    val sup = tri.select(least(col("src"), col("v")).as("a"),
        greatest(col("src"), col("v")).as("b"))
      .unionAll(tri.select(least(col("src"), col("w")).as("a"),
        greatest(col("src"), col("w")).as("b")))
      .unionAll(tri.select(least(col("v"), col("w")).as("a"),
        greatest(col("v"), col("w")).as("b")))
      .groupBy("a", "b").agg(count(lit(1)).as("sup"))
    e.join(sup, Seq("a", "b"), "left")
      .join(deg.select(col("a"), col("d").as("deg_a")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("d").as("deg_b")), Seq("b"))
      .select(col("a").as("product_a"), col("b").as("product_b"),
        coalesce(col("sup"), lit(0L)).as("common_neighbors"),
        col("deg_a"), col("deg_b"),
        (coalesce(col("sup"), lit(0L)).cast("double") /
          (col("deg_a") + col("deg_b") - coalesce(col("sup"), lit(0L)))
            .cast("double")).as("jaccard"))
      .orderBy("product_a", "product_b")
  }

  private def hitsRound(prev: String, i: Int): String =
    s"""ar$i AS (SELECT e.v,
       |           SUM(CAST(FLOOR(h.h * $PrScale) AS DECIMAL(38,0))) AS ar
       |         FROM e JOIN $prev h ON e.u = h.u GROUP BY 1),
       |at$i AS (SELECT SUM(ar) AS at FROM ar$i),
       |auth$i AS (SELECT v, CAST(ar AS DOUBLE)/CAST(at AS DOUBLE) AS a
       |           FROM ar$i, at$i),
       |hr$i AS (SELECT e.u,
       |           SUM(CAST(FLOOR(a.a * $PrScale) AS DECIMAL(38,0))) AS hr
       |         FROM e JOIN auth$i a ON e.v = a.v GROUP BY 1),
       |ht$i AS (SELECT SUM(hr) AS ht FROM hr$i),
       |hub$i AS (SELECT u, CAST(hr AS DOUBLE)/CAST(ht AS DOUBLE) AS h
       |          FROM hr$i, ht$i)""".stripMargin

  private def lpRound(prev: String, out: String): String =
    s"""c$out AS (SELECT e.u, l.lbl, COUNT(*) AS c
       |          FROM und e JOIN $prev l ON e.v = l.u GROUP BY 1, 2),
       |m$out AS (SELECT u, MAX(c) AS mc FROM c$out GROUP BY 1),
       |$out AS (SELECT c.u, MIN(c.lbl) AS lbl
       |         FROM c$out c JOIN m$out m ON c.u = m.u AND c.c = m.mc
       |         GROUP BY 1)""".stripMargin

  private def prRound(prev: String, out: String): String =
    s"""m$out AS (
       |  SELECT e.v AS u,
       |         SUM(CAST(FLOOR((p.pr/d.deg) * $PrScale) AS DECIMAL(38,0))) AS s
       |  FROM und e JOIN $prev p ON e.u = p.u JOIN deg d ON e.u = d.u
       |  GROUP BY 1),
       |dg$out AS (
       |  SELECT COALESCE(SUM(CAST(FLOOR(p.pr * $PrScale) AS DECIMAL(38,0))),
       |                  CAST(0 AS DECIMAL(38,0))) AS ds
       |  FROM $prev p LEFT JOIN deg d ON p.u = d.u WHERE d.u IS NULL),
       |$out AS (
       |  SELECT nodes.u, CAST(0.15 AS DOUBLE)/nd
       |            + CAST(0.85 AS DOUBLE) *
       |              (CAST(COALESCE(m.s, 0) AS DOUBLE)/$PrScale
       |               + CAST(ds AS DOUBLE)/$PrScale/nd) AS pr
       |  FROM nodes LEFT JOIN m$out m ON nodes.u = m.u, n, dg$out)""".stripMargin

  /** [[prRound]]'s TrustRank twin: teleport and dangling mass land on
    * the seed vector `sv(u, sv)` instead of 1/nd. CTE names prefixed
    * `tr` so both recursions coexist in one WITH body. */
  private def trRound(prev: String, out: String): String =
    s"""m$out AS (
       |  SELECT e.v AS u,
       |         SUM(CAST(FLOOR((p.pr/d.deg) * $PrScale) AS DECIMAL(38,0))) AS s
       |  FROM und e JOIN $prev p ON e.u = p.u JOIN deg d ON e.u = d.u
       |  GROUP BY 1),
       |dg$out AS (
       |  SELECT COALESCE(SUM(CAST(FLOOR(p.pr * $PrScale) AS DECIMAL(38,0))),
       |                  CAST(0 AS DECIMAL(38,0))) AS ds
       |  FROM $prev p LEFT JOIN deg d ON p.u = d.u WHERE d.u IS NULL),
       |$out AS (
       |  SELECT nodes.u, CAST(0.15 AS DOUBLE) * sv.sv
       |            + CAST(0.85 AS DOUBLE) *
       |              (CAST(COALESCE(m.s, 0) AS DOUBLE)/$PrScale
       |               + CAST(ds AS DOUBLE)/$PrScale * sv.sv) AS pr
       |  FROM nodes LEFT JOIN m$out m ON nodes.u = m.u
       |       JOIN sv ON nodes.u = sv.u, dg$out)""".stripMargin

  /** The gr_host_rank recompute as a reusable WITH-body ending in a
    * `hostpr(host_id, host, pagerank)` CTE — shared with the
    * smp_host_weighted oracle in [[Curation]]. */
  private[graft] def hostRankCte: String =
    s"""hd AS (SELECT doc_id, doc_id % ${Url.HostMod} AS s FROM documents),
       |raw AS (
       |  SELECT s AS u, (doc_id*3 + 1) % ${Url.HostMod} AS v FROM hd
       |  UNION ALL SELECT s, (doc_id*5 + 2) % ${Url.HostMod} FROM hd
       |  UNION ALL SELECT s, ${Url.HostMod} FROM hd WHERE doc_id % 11 = 0),
       |und AS (SELECT DISTINCT u, v FROM raw WHERE u <> v),
       |deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY 1),
       |nodes AS (SELECT DISTINCT u
       |          FROM (SELECT u FROM und UNION ALL SELECT v FROM und)),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM nodes),
       |pr0 AS (SELECT u, CAST(1 AS DOUBLE)/nd AS pr FROM nodes, n),
       |${(1 to PagerankIters).map(i => prRound(s"pr${i - 1}", s"pr$i"))
           .mkString(",\n")},
       |hostpr AS (SELECT u AS host_id, 'host'||u||'.example' AS host,
       |                  pr AS pagerank
       |           FROM pr$PagerankIters)""".stripMargin

  /** The gr_host_trust recompute as a reusable WITH-body ending in an
    * `ht(host_id, host, trust, pagerank, spam_mass)` CTE — shared with
    * the smp_trust_weighted oracle in [[Curation]]. */
  private[graft] def hostTrustCte: String =
    s"""$hostRankCte,
       |ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM nodes
       |       WHERE u % 3 = 0),
       |sv AS (SELECT nodes.u,
       |              CASE WHEN nodes.u % 3 = 0 THEN CAST(1 AS DOUBLE)/ns.ns
       |                   ELSE CAST(0 AS DOUBLE) END AS sv
       |       FROM nodes, ns),
       |tr0 AS (SELECT u, sv AS pr FROM sv),
       |${(1 to PagerankIters).map(i => trRound(s"tr${i - 1}", s"tr$i"))
           .mkString(",\n")},
       |ht AS (SELECT hp.host_id, hp.host, t.pr AS trust, hp.pagerank,
       |              (hp.pagerank - t.pr) / hp.pagerank AS spam_mass
       |       FROM hostpr hp JOIN tr$PagerankIters t ON hp.host_id = t.u)""".stripMargin

  /** The k-core peel REPLAYED: [[KCoreMaxRounds]] unrolled rounds of
    * (degree ≥ k filter + both-endpoint edge keep) over the bipartite
    * customer↔product edge set. The Scala loop stops early at the
    * fixpoint, but peeling is ABSORBING — once fixed, further rounds
    * reproduce the same edge set — so unrolling the full budget is
    * exactly the loop's result (including the all-peeled-empty and
    * budget-exhausted cases). Rounds MATERIALIZED (the chain is
    * [[KCoreMaxRounds]] deep). */
  private def kcoreSql: String = {
    val rounds = (1 to KCoreMaxRounds).map { r =>
      s"""kp$r AS MATERIALIZED (
         |  SELECT u FROM (SELECT u, COUNT(*) AS c FROM ke${r - 1} GROUP BY 1)
         |  WHERE c >= $KCoreK),
         |ke$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM ke${r - 1} e
         |  JOIN kp$r a ON e.u = a.u JOIN kp$r b ON e.v = b.u)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Tables.salesCte},
       |kb AS (SELECT DISTINCT customer_id*2 AS u, product_id*2 + 1 AS v
       |       FROM sales),
       |ke0 AS (SELECT u, v FROM kb UNION ALL SELECT v, u FROM kb),
       |$rounds
       |SELECT u AS node_id,
       |       CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'product' END AS kind,
       |       COUNT(*) AS core_degree
       |FROM ke$KCoreMaxRounds GROUP BY 1 ORDER BY node_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("gr_kcore", kcore, kcoreSql),
    QueryDef("gr_host_rank", hostRank,
      s"""WITH $hostRankCte
         |SELECT host_id, host, pagerank FROM hostpr ORDER BY host_id""".stripMargin),
    QueryDef("gr_host_trust", hostTrust,
      s"""WITH $hostTrustCte
         |SELECT host_id, host, trust, pagerank, spam_mass
         |FROM ht ORDER BY host_id""".stripMargin),
    QueryDef("gr_pagerank", pagerank,
      s"""WITH ${Tables.salesCte},
         |e AS (SELECT DISTINCT customer_id*2 AS u, product_id*2 + 1 AS v
         |      FROM sales),
         |und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT u, COUNT(*) AS deg FROM und GROUP BY 1),
         |nodes AS (SELECT DISTINCT u
         |          FROM (SELECT u FROM und UNION ALL SELECT v FROM und)),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM nodes),
         |pr0 AS (SELECT u, CAST(1 AS DOUBLE)/nd AS pr FROM nodes, n),
         |${(1 to PagerankIters).map(i => prRound(s"pr${i - 1}", s"pr$i"))
             .mkString(",\n")}
         |SELECT u AS node_id,
         |       CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'product' END AS kind,
         |       u // 2 AS entity_id, pr AS pagerank
         |FROM pr$PagerankIters ORDER BY node_id""".stripMargin),
    QueryDef("gr_hits", hits,
      s"""WITH ${Tables.salesCte},
         |e AS (SELECT DISTINCT customer_id AS u, product_id AS v FROM sales),
         |hub0 AS (SELECT DISTINCT u, CAST(1 AS DOUBLE) AS h FROM e),
         |${(1 to HitsIters).map(i => hitsRound(s"hub${i - 1}", i))
             .mkString(",\n")}
         |SELECT * FROM (
         |  SELECT 'customer' AS kind, u AS entity_id, h AS score
         |  FROM hub$HitsIters
         |  UNION ALL
         |  SELECT 'product' AS kind, v AS entity_id, a AS score
         |  FROM auth$HitsIters)
         |ORDER BY kind, entity_id""".stripMargin),
    QueryDef("gr_labelprop", labelprop,
      s"""WITH ${Tables.salesCte},
         |e AS (SELECT DISTINCT customer_id*2 AS u, product_id*2 + 1 AS v
         |      FROM sales),
         |und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         |lbl0 AS (SELECT DISTINCT u, u AS lbl FROM und),
         |${(1 to LabelpropIters).map(i => lpRound(s"lbl${i - 1}", s"lbl$i"))
             .mkString(",\n")}
         |SELECT u AS node_id,
         |       CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'product' END AS kind,
         |       u // 2 AS entity_id, lbl AS label
         |FROM lbl$LabelpropIters ORDER BY node_id""".stripMargin),
    QueryDef("gr_triangles", triangles,
      s"""WITH ${Tables.salesCte},
         |bp AS (SELECT DISTINCT transaction_id // 10 AS basket_id, product_id
         |       FROM sales),
         |e AS (SELECT x.product_id AS a, y.product_id AS b
         |      FROM bp x JOIN bp y
         |        ON x.basket_id = y.basket_id AND x.product_id < y.product_id
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
         |t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |      FROM e e1 JOIN e e2 ON e1.b = e2.a
         |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |nodes AS (SELECT u AS p FROM t UNION ALL SELECT v FROM t
         |          UNION ALL SELECT w FROM t)
         |SELECT p AS product_id, COUNT(*) AS triangles
         |FROM nodes GROUP BY 1 ORDER BY product_id""".stripMargin),
    QueryDef("gr_modularity", categoryModularity,
      s"""WITH ${Tables.salesCte},
         |bp AS (SELECT DISTINCT transaction_id // 10 AS basket_id, product_id
         |       FROM sales),
         |e AS (SELECT x.product_id AS a, y.product_id AS b
         |      FROM bp x JOIN bp y
         |        ON x.basket_id = y.basket_id AND x.product_id < y.product_id
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
         |cat AS (SELECT p_partkey AS product_id, p_type AS category FROM part),
         |ec AS (SELECT e.a, e.b, x.category AS ca, y.category AS cb
         |       FROM e JOIN cat x ON e.a = x.product_id
         |              JOIN cat y ON e.b = y.product_id),
         |m AS (SELECT COUNT(*) AS m FROM ec),
         |und AS (SELECT a AS node, ca AS category FROM ec
         |        UNION ALL SELECT b, cb FROM ec),
         |deg AS (SELECT category, COUNT(*) AS degree_sum,
         |               COUNT(DISTINCT node) AS n_nodes
         |        FROM und GROUP BY 1),
         |i AS (SELECT ca AS category, COUNT(*) AS intra_edges
         |      FROM ec WHERE ca = cb GROUP BY 1)
         |SELECT d.category, d.n_nodes,
         |       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
         |       d.degree_sum,
         |       CAST(COALESCE(i.intra_edges, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
         |         - (CAST(d.degree_sum AS DOUBLE) / (2 * CAST(m.m AS DOUBLE)))
         |           * (CAST(d.degree_sum AS DOUBLE) / (2 * CAST(m.m AS DOUBLE)))
         |         AS q_contrib
         |FROM deg d LEFT JOIN i USING (category) CROSS JOIN m
         |ORDER BY category""".stripMargin),
    QueryDef("gr_assortativity", assortativity,
      s"""WITH ${Tables.salesCte},
         |bp AS (SELECT DISTINCT transaction_id // 10 AS basket_id, product_id
         |       FROM sales),
         |e AS (SELECT x.product_id AS a, y.product_id AS b
         |      FROM bp x JOIN bp y
         |        ON x.basket_id = y.basket_id AND x.product_id < y.product_id
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
         |und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT a, COUNT(*) AS d FROM und GROUP BY 1),
         |p AS (SELECT CAST(dx.d AS DECIMAL(19,0)) AS dx,
         |             CAST(dy.d AS DECIMAL(19,0)) AS dy
         |      FROM und JOIN deg dx ON und.a = dx.a
         |               JOIN deg dy ON und.b = dy.a),
         |s AS (SELECT COUNT(*) AS n,
         |             SUM(CAST(dx AS DECIMAL(38,0))) AS sx,
         |             SUM(CAST(dy AS DECIMAL(38,0))) AS sy,
         |             SUM(CAST(dx*dy AS DECIMAL(38,0))) AS sxy,
         |             SUM(CAST(dx*dx AS DECIMAL(38,0))) AS sxx,
         |             SUM(CAST(dy*dy AS DECIMAL(38,0))) AS syy
         |      FROM p)
         |SELECT n AS n_dir_edges,
         |       (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |         / SQRT((n * CAST(sxx AS DOUBLE)
         |                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |                * (n * CAST(syy AS DOUBLE)
         |                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |         AS assortativity
         |FROM s""".stripMargin),
    QueryDef("gr_bfs_distance", bfsDistance,
      s"""WITH RECURSIVE ${Tables.salesCte},
         |bp AS (SELECT DISTINCT transaction_id // 10 AS basket_id, product_id
         |       FROM sales),
         |e AS (SELECT x.product_id AS a, y.product_id AS b
         |      FROM bp x JOIN bp y
         |        ON x.basket_id = y.basket_id AND x.product_id < y.product_id
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
         |und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY 1),
         |seed AS (SELECT u FROM deg ORDER BY d DESC, u LIMIT 1),
         |reach(n, dist) AS (
         |  SELECT u, 0 FROM seed
         |  UNION
         |  SELECT und.v, reach.dist + 1 FROM und JOIN reach ON und.u = reach.n
         |  WHERE reach.dist < $BfsMaxRounds)
         |SELECT n AS product_id, CAST(MIN(dist) AS BIGINT) AS dist
         |FROM reach GROUP BY 1 ORDER BY product_id""".stripMargin),
    QueryDef("gr_edge_jaccard", edgeJaccard,
      s"""WITH ${Tables.salesCte},
         |bp AS (SELECT DISTINCT transaction_id // 10 AS basket_id, product_id
         |       FROM sales),
         |e AS (SELECT x.product_id AS a, y.product_id AS b
         |      FROM bp x JOIN bp y
         |        ON x.basket_id = y.basket_id AND x.product_id < y.product_id
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
         |und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT a, COUNT(*) AS d FROM und GROUP BY 1),
         |t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |      FROM e e1 JOIN e e2 ON e1.b = e2.a
         |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sup AS (SELECT a, b, COUNT(*) AS sup FROM (
         |          SELECT u AS a, v AS b FROM t
         |          UNION ALL SELECT u, w FROM t
         |          UNION ALL SELECT v, w FROM t) GROUP BY 1, 2)
         |SELECT e.a AS product_a, e.b AS product_b,
         |       COALESCE(sup.sup, 0) AS common_neighbors,
         |       da.d AS deg_a, db.d AS deg_b,
         |       CAST(COALESCE(sup.sup, 0) AS DOUBLE)
         |         / CAST(da.d + db.d - COALESCE(sup.sup, 0) AS DOUBLE) AS jaccard
         |FROM e LEFT JOIN sup ON sup.a = e.a AND sup.b = e.b
         |JOIN deg da ON da.a = e.a JOIN deg db ON db.a = e.b
         |ORDER BY product_a, product_b""".stripMargin),
    QueryDef("gr_support_hist", supportHist,
      s"""WITH ${Tables.salesCte},
         |bp AS (SELECT DISTINCT transaction_id // 10 AS basket_id, product_id
         |       FROM sales),
         |e AS (SELECT x.product_id AS a, y.product_id AS b, COUNT(*) AS n_co
         |      FROM bp x JOIN bp y
         |        ON x.basket_id = y.basket_id AND x.product_id < y.product_id
         |      GROUP BY 1, 2)
         |SELECT n_co, COUNT(*) AS n_pairs
         |FROM e GROUP BY 1 ORDER BY n_co""".stripMargin),
    QueryDef("gr_components", components,
      s"""WITH RECURSIVE ${Tables.salesCte},
         |bp AS (SELECT DISTINCT transaction_id // 10 AS basket_id, product_id
         |       FROM sales),
         |e AS (SELECT x.product_id AS a, y.product_id AS b
         |      FROM bp x JOIN bp y
         |        ON x.basket_id = y.basket_id AND x.product_id < y.product_id
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
         |und AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
         |reach(u, r) AS (
         |  SELECT u, u FROM und
         |  UNION
         |  SELECT d.v, reach.r FROM und d JOIN reach ON d.u = reach.u),
         |lbl AS (SELECT u, MIN(r) AS component_id FROM reach GROUP BY 1)
         |SELECT component_id, COUNT(*) AS n_products
         |FROM lbl GROUP BY 1 ORDER BY component_id""".stripMargin),
    QueryDef("gr_clustering_coeff", clusteringCoeff,
      s"""WITH ${Tables.salesCte},
         |bp AS (SELECT DISTINCT transaction_id // 10 AS basket_id, product_id
         |       FROM sales),
         |e AS (SELECT x.product_id AS a, y.product_id AS b
         |      FROM bp x JOIN bp y
         |        ON x.basket_id = y.basket_id AND x.product_id < y.product_id
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $TriMinSupport),
         |und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         |deg AS (SELECT a AS product_id, COUNT(*) AS degree FROM und GROUP BY 1),
         |t AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
         |      FROM e e1 JOIN e e2 ON e1.b = e2.a
         |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |nodes AS (SELECT u AS p FROM t UNION ALL SELECT v FROM t
         |          UNION ALL SELECT w FROM t),
         |tc AS (SELECT p AS product_id, COUNT(*) AS triangles
         |       FROM nodes GROUP BY 1)
         |SELECT d.product_id, d.degree,
         |       COALESCE(tc.triangles, 0) AS triangles,
         |       CASE WHEN d.degree >= 2
         |            THEN CAST(COALESCE(tc.triangles, 0)*2 AS DOUBLE)
         |                   / CAST(d.degree*(d.degree - 1) AS DOUBLE)
         |            ELSE 0.0 END AS clustering_coeff
         |FROM deg d LEFT JOIN tc USING (product_id)
         |ORDER BY d.product_id""".stripMargin),
    QueryDef("gr_degrees", degrees,
      s"""WITH ${Tables.salesCte},
         |e AS (SELECT DISTINCT customer_id*2 AS u, product_id*2 + 1 AS v
         |      FROM sales),
         |und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT u, COUNT(*) AS degree FROM und GROUP BY 1)
         |SELECT CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'product' END AS kind,
         |       degree, COUNT(*) AS n_nodes
         |FROM deg GROUP BY 1, 2 ORDER BY kind, degree""".stripMargin))

  /** `gr_clustering_coeff`: local clustering coefficient per product —
    * `2·T(v) / (deg(v)·(deg(v)−1))` over the support-filtered
    * co-purchase graph, composing [[triangles]] with the graph's own
    * degrees. Separates dense substitute clusters (high coefficient)
    * from pure hubs (high degree, low coefficient) — the
    * neighborhood-cohesion read merchandisers and graph-feature
    * pipelines take after the raw counts.
    *
    * Scale shape: inherits the |E|^1.5 wedge bound from [[triangles]];
    * the degree table is one partial-agg groupBy of the edge list and
    * the final join is keyed on product_id. The coefficient divides
    * exact integers in one fixed IEEE expression. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val e = coEdges(spark, dir)
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("product_id"))
      .agg(count(lit(1)).as("degree"))
    deg.join(trianglesOf(e), Seq("product_id"), "left")
      .select(col("product_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering_coeff",
        when(col("degree") >= 2,
          (col("triangles") * 2).cast("double")
            / (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)))
      .orderBy("product_id")
  }

  /** `gr_components`: connected components of the support-filtered
    * co-purchase graph — one row per component with its size. The
    * assortment-structure headline (is the catalog one connected
    * market or many disjoint niches?) and the partition key for
    * per-market downstream jobs; reuses the O(log n)-round
    * large-star/small-star fixpoint battle-tested by the dedup
    * resolver ([[graft.operators.Curation.componentLabelsStar]]).
    *
    * Scale shape: each star round is a keyed join + partial min-agg
    * with an O(1) driver checksum as the convergence test; the size
    * rollup is component-cardinality metadata. */
  def components(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.componentLabelsStar(
        coEdges(spark, dir)
          .select(col("a").as("a_id"), col("b").as("b_id")))
      .groupBy(col("lbl").as("component_id"))
      .agg(count(lit(1)).as("n_products"))
      .orderBy("component_id")

  /** `gr_support_hist`: co-purchase support histogram — how many
    * product pairs co-occur in exactly n baskets (UNFILTERED — this is
    * the view that justifies [[TriMinSupport]]: the threshold should
    * sit past the noise knee, and this table shows where the knee
    * is). Every graph op downstream inherits the cut; this is its
    * audit.
    *
    * Scale shape: one aggregate over the cached [[pairCounts]]
    * artifact (the same table the edge list filters) — O(max support)
    * output rows, metadata. */
  def supportHist(spark: SparkSession, dir: String): DataFrame =
    pairCounts(spark, dir)
      .groupBy("n_co")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("n_co")

  /** `gr_assortativity`: degree assortativity of the co-purchase graph
    * — the Pearson correlation of endpoint degrees over undirected
    * edges, one scalar: positive = hubs connect to hubs (a
    * rich-club catalog), negative = hubs fan out to niche items. Read
    * with [[degrees]]' histogram when deciding whether hub-salting is
    * needed on the edge key.
    *
    * Scale shape: the [[graft.operators.Gold.priceSlope]] discipline —
    * five exact DECIMAL sufficient statistics over the bidirected edge
    * list (order-independent, engine-portable), then the closed form
    * in identical IEEE ops; degrees come from one partial-agg groupBy
    * joined back on each endpoint. Cross products pre-cast each LONG
    * degree to DECIMAL(19,0) BEFORE multiplying (the
    * [[graft.operators.Gold.revenueAutocorr]] discipline): under
    * Spark 4 ANSI mode a `dx * dy` on longs THROWS past ~3e9-degree
    * hubs, where the decimal product is exact. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val e = coEdges(spark, dir)
    val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy("a").agg(count(lit(1)).as("d"))
    val pairs = und
      .join(deg.select(col("a"), col("d").as("dx")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("d").as("dy")), Seq("b"))
      .select(col("dx").cast(d19).as("dx"), col("dy").cast(d19).as("dy"))
    pairs.agg(
        count(lit(1)).as("n_dir_edges"),
        sum(col("dx").cast(dec)).as("sx"),
        sum(col("dy").cast(dec)).as("sy"),
        sum((col("dx") * col("dy")).cast(dec)).as("sxy"),
        sum((col("dx") * col("dx")).cast(dec)).as("sxx"),
        sum((col("dy") * col("dy")).cast(dec)).as("syy"))
      .select(col("n_dir_edges"),
        ((col("n_dir_edges") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((col("n_dir_edges") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n_dir_edges") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))))
          .as("assortativity"))
  }

  /** Core order for [[kcore]]. */
  val KCoreK = 3L
  /** Peel-round budget: real interaction graphs shed their shell in a
    * handful of rounds (each round removes every node currently below
    * k, not one at a time); adversarial path-like graphs could need
    * more, so the budget is asserted reached-fixpoint in GraphSpec
    * rather than silently trusted. */
  val KCoreMaxRounds = 20

  /** `gr_modularity`: category modularity of the co-purchase graph —
    * per product category: its graph nodes, intra-category edges,
    * degree mass, and the category's Newman-modularity contribution
    * Q_c = intra_c/m − (d_c/2m)² against the configuration-model
    * expectation. Σ Q_c answers "do purchases cluster within
    * categories, or does the catalog cross-sell?" — the partition-
    * quality metric read next to [[assortativity]] (degree mixing) and
    * [[clusteringCoeff]] (local density), here for an EXTERNAL
    * partition (the merchandising taxonomy) rather than a discovered
    * one, which keeps the whole metric closed-form and exactly
    * oracle-checkable.
    *
    * Scale shape: edges come from the cached [[pairCounts]] artifact;
    * the category dim broadcasts; intra counts and degree mass are two
    * partial-aggregating groupBys to category-catalog-sized frames;
    * the edge total rides a broadcast 1-row cross join (the pagerank
    * normalizer pattern). All integer masses stay integers until the
    * final identical-in-both-engines IEEE expression. */
  def categoryModularity(spark: SparkSession, dir: String): DataFrame = {
    val cat = Tables.products(spark, dir)
      .select(col("product_id"), col("category"))
    val ec = coEdges(spark, dir)
      .join(broadcast(cat.select(col("product_id"),
        col("category").as("ca"))), col("a") === col("product_id"))
      .drop("product_id")
      .join(broadcast(cat.select(col("product_id"),
        col("category").as("cb"))), col("b") === col("product_id"))
      .drop("product_id")
    val mRow = ec.agg(count(lit(1)).as("m"))
    val und = ec.select(col("a").as("node"), col("ca").as("category"))
      .unionAll(ec.select(col("b").as("node"), col("cb").as("category")))
    val deg = und.groupBy("category")
      .agg(count(lit(1)).as("degree_sum"),
        countDistinct(col("node")).as("n_nodes"))
    val intra = ec.where(col("ca") === col("cb"))
      .groupBy(col("ca").as("category"))
      .agg(count(lit(1)).as("intra_edges"))
    val mD = col("m").cast("double")
    val dHalf = col("degree_sum").cast("double") / (lit(2) * mD)
    deg.join(intra, Seq("category"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("category"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        (coalesce(col("intra_edges"), lit(0L)).cast("double") / mD
          - dHalf * dHalf).as("q_contrib"))
      .orderBy("category")
  }

  /** `gr_kcore`: the k-core of the co-purchase graph — the maximal
    * subgraph where every node keeps ≥ k neighbors, the standard dense-
    * community prefilter (recommender neighborhoods, fraud rings,
    * graph-embedding vocabularies) that PageRank and triangle counts
    * are usually run AFTER.
    *
    * Scale shape: iterative peeling; each round is ONE partial-
    * aggregated degree groupBy + two semi-joins of the edge list
    * against the ≥k survivor set, all keyed on the endpoint columns the
    * edge table is already bucketed by — the [[pagerankOn]] per-round
    * shape. The survivor edges are the [[Rounds.fixpoint]] state: the
    * driver sees one COUNT per peel, never edges. */
  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOn(undirected(spark, dir), KCoreK)

  def kcoreOn(edges0: DataFrame, k: Long): DataFrame = {
    val np = edges0.sparkSession.sessionState.conf.numShufflePartitions
    // partitioned by u once: the per-round degree groupBy and the
    // u-side survivor semi-join then reuse the partitioning instead of
    // re-exchanging the edge table every peel (the [[pagerankOn]] r15
    // restructure; the survivor set rides an AQE broadcast)
    val init = edges0.select(col("u").cast("long").as("u"),
      col("v").cast("long").as("v"))
      .repartition(np, col("u"))
    // a peel only removes edges: an unchanged count is an unchanged set
    Rounds.fixpoint(init, KCoreMaxRounds)(Rounds.rowCount) { (e, _) =>
      val keep = e.groupBy("u").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("u")
      e.join(keep, Seq("u"), "left_semi")
        .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
    }.groupBy("u").agg(count(lit(1)).as("core_degree"))
      .select(col("u").as("node_id"),
        when(col("u") % 2 === 0, "customer").otherwise("product").as("kind"),
        col("core_degree"))
      .orderBy("node_id")
  }
}
