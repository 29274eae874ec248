package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.JoinType
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, HashJoin, SortMergeJoinExec}

/** Golden physical-plan fingerprints for EVERY driver query.
  *
  * At a 200+-query inventory, a silent broadcast→shuffle flip, a lost
  * pushdown, or a window losing its partition spec is invisible in
  * green oracles (correct, slower) until it burns a cluster. The cheap
  * insurance: canonicalize each query's physical plan down to its
  * SHAPE — node names, join types + build sides, exchange partitioning
  * class, codegen span structure; no expression ids, no paths, no
  * sizes — hash it, and pin the hash per key in a checked-in file.
  * An intentional plan change regenerates the file in the same commit:
  *
  *   SPARK_GRAFT_REGEN_FPS=1 sbt "testOnly graft.PlanFingerprintSpec"
  *
  * The full shapes are committed next to the hashes
  * (plan_shapes.txt) so a review can diff WHAT changed, not just that
  * something did.
  */
object PlanFingerprint {

  /** Canonical shape: stable across runs, hosts and data paths at a
    * fixed SF; sensitive to operator structure, join strategy/side,
    * exchange kind and codegen span boundaries. */
  def shape(df: DataFrame): String = {
    val sb = new StringBuilder
    def label(p: SparkPlan): String = p match {
      case _: AdaptiveSparkPlanExec => "AdaptivePlan"
      case e: ShuffleExchangeExec =>
        s"Exchange[${e.outputPartitioning.getClass.getSimpleName}]"
      case j: HashJoin => s"${j.nodeName}[${joinType(j.joinType)},${j.buildSide}]"
      case j: SortMergeJoinExec => s"${j.nodeName}[${joinType(j.joinType)}]"
      case j: BroadcastNestedLoopJoinExec =>
        s"${j.nodeName}[${joinType(j.joinType)},${j.buildSide}]"
      // strip per-plan counters: "WholeStageCodegen (3)" → "WholeStageCodegen"
      case p => p.nodeName.replaceAll("\\s*\\(\\d+\\)$", "")
    }
    // an ExistenceJoin names its output attribute: drop the expression id
    def joinType(t: JoinType): String = t.toString.replaceAll("#\\d+", "")
    def go(p: SparkPlan, d: Int): Unit = {
      sb.append("  " * d).append(label(p)).append('\n')
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      kids.foreach(go(_, d + 1))
      // scalar/broadcast subqueries are not children but are part of
      // the executed shape (1-row broadcast aggregates ride here)
      p.subqueries.foreach { sq => sb.append("  " * (d + 1)).append("Subquery\n"); go(sq, d + 2) }
    }
    go(df.queryExecution.executedPlan, 0)
    sb.toString
  }

  /** Cardinality bound a BNLJ build side must provably sit under: a
    * nested-loop join's cost is |stream| × |build|, so any build side
    * that can grow with the DATA (the r13 crawl-budget host² bug) is a
    * scale-killer regardless of today's row counts. "Bounded" = the
    * subtree ends in a global (group-free) aggregate, a literal limit,
    * a literal local relation, or a literal range — never a scan. */
  private val BuildBound = 4096L

  private def bounded(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
    case q: QueryStageExec => bounded(q.plan)
    case r: ReusedExchangeExec => bounded(r.child)
    case agg: BaseAggregateExec if agg.groupingExpressions.isEmpty => true
    // SkewUtils.prefixSum's partition-offset table: grouped ONLY by the
    // task partition id (`__psum_pid` = SPARK_PARTITION_ID()), so its
    // cardinality is spark.sql.shuffle.partitions — a config literal,
    // not data. The non-equi (`__b_pid < __psum_pid`) broadcast join
    // over it is the exact range-partitioned prefix scan's P×P step.
    case agg: BaseAggregateExec
        if agg.groupingExpressions.nonEmpty &&
          agg.groupingExpressions.forall(_.name.startsWith("__psum_pid")) =>
      true
    case g: GlobalLimitExec => g.limit <= BuildBound || bounded(g.child)
    case t: TakeOrderedAndProjectExec => t.limit <= BuildBound
    case l: LocalTableScanExec => l.rows.size <= BuildBound
    case r: RangeExec => r.numElements <= BuildBound
    case _ if p.children.isEmpty => false
    // pass-through / row-preserving (and grouped aggregates, joins,
    // generates OVER an already-bounded input): bounded iff every
    // child is — a scan anywhere underneath fails the walk
    case _ => p.children.forall(bounded)
  }

  /** Every BroadcastNestedLoopJoin in `plan` (AQE stages and scalar
    * subqueries included) whose BUILD side is not provably bounded —
    * the CI guard for the r13 host²-join bug class. */
  def bnljViolations(plan: SparkPlan): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def go(p: SparkPlan): Unit = {
      p match {
        case j: BroadcastNestedLoopJoinExec =>
          val build = if (j.buildSide == BuildLeft) j.left else j.right
          if (!bounded(build))
            out += s"BNLJ[${j.joinType},${j.buildSide}] build side unbounded:\n" +
              build.toString.linesIterator.take(12).mkString("\n")
        case _ =>
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      kids.foreach(go)
      p.subqueries.foreach(go)
    }
    go(plan)
    out.toSeq
  }

  def hash(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
    d.digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
  }
}

class PlanFingerprintSpec extends SparkSpec {
  private val fpPath = Paths.get("src/test/resources/plan_fingerprints.tsv")
  private val shapesPath = Paths.get("src/test/resources/plan_shapes.txt")
  private val exPath = Paths.get("src/test/resources/exchange_counts.tsv")

  /** The cost-bearing top of the bench record, pinned by EXCHANGE
    * COUNT (not just hash) so a drift failure names the regression
    * class (added/removed shuffle or broadcast) directly instead of
    * burying it in a fingerprint diff. Membership (round 11): every
    * query at ≥ 1.0 s in the round-10 sweep minima at sf0.1, EVERY
    * iterative/graph op (gr_*), and each round's new keys — 73 rows.
    * The round-10 pagerank fix (66 → 1 exchanges) was found by hand;
    * these pins make that class of regression self-announcing.
    * Rounds 12 and 13 add their new keys per the membership rule. */
  private val exchangePinned = Seq(
    "xf_refresh_schedule", "txt_quality_lr",
    "xf_recrawl", "smp_recrawl_plan", "snk_warc_dir", "smp_trust_weighted",
    "xf_warc_extract", "xf_sitemap", "smp_crawl_budget", "gr_host_trust",
    "txt_ccnet_bucket", "xf_fetch_schedule", "smp_repeat_plan",
    "xf_url_canon", "dd_url_dedup", "gr_host_rank", "src_warc_roundtrip",
    "mm_frame_neardup", "txt_kn5_score", "smp_host_weighted",
    "txt_topgram_share", "dd_url_incremental", "xf_robots_screen",
    "xf_crawl_funnel",
    "ath_category_month_pivot", "ath_revenue_by_category",
    "ath_rolling_revenue", "ath_sales_rollup", "ath_top_customers",
    "cat_external_partitioned", "cat_register_tables", "dd_admission",
    "dd_chunk_dedup", "dd_components_star", "dd_cross_overlap",
    "dd_decontam_substr", "dd_dup_coverage", "dd_embed_neardup",
    "dd_simhash", "dd_span", "dq_business_rules", "dq_fd_profile",
    "dq_key_profile", "dq_table_stats", "dq_value_skew", "emb_gram",
    "emb_kcenter", "emb_label_confusion", "emb_pca",
    "evt_attribution_linear", "evt_markov_stationary", "evt_power_curve",
    "evt_trigrams", "gold_abc_class", "gold_aov_monthly",
    "gold_assortment_overlap", "gold_cohort_ltv",
    "gold_first_purchase_category", "gold_inventory_turnover",
    "gold_manager_revenue", "gold_market_share", "gold_nation_trade",
    "gold_new_vs_returning", "gold_order_gap", "gold_price_index",
    "gold_price_slope", "gold_rfm", "gold_seasonality",
    "gold_segment_sales", "gold_snaive_backtest", "gold_stockout",
    "gold_xyz_class", "gr_assortativity", "gr_bfs_distance",
    "gr_clustering_coeff", "gr_components", "gr_degrees", "gr_edge_jaccard",
    "gr_hits", "gr_kcore", "gr_labelprop", "gr_modularity", "gr_pagerank",
    "gr_support_hist", "gr_triangles", "smp_interleave",
    "smp_negative_sampling", "smp_temperature", "snk_partitioned_parquet",
    "src_inventory", "txt_html_extract", "txt_kn3_score", "txt_kn_score",
    "txt_quality_by_source", "txt_quality_ensemble", "txt_tfidf",
    "xf_fuzzy_match2")

  /** BNLJ build sides the structural walk can't prove bounded but that
    * ARE bounded by key domain or operator contract — each entry caps
    * the number of such sites per key, so an ADDED nested-loop join in
    * any listed query still fails. Families:
    *   - query-set broadcasts (ann_range, emb_hard_negatives,
    *     emb_mmr_rerank): the build is the DECLARED query set
    *     (`vec_id % 50 = 0` in the test harness); production callers
    *     pass a bounded query batch — the operator contract, see the
    *     Similarity scaladocs;
    *   - catalog-keyed spread aggregates (smp_interleave, smp_mix_plan,
    *     smp_repeat_plan): source-catalog-sized totals inequality-
    *     joined for allocation (the mixPlan all-integer discipline);
    *   - decile/value-keyed rollups (dd_threshold_curve ≤10 deciles,
    *     evt_power_curve ≤10 deciles, evt_activity_curve O(√mass)
    *     distinct event-count values — Zipf-bounded metadata);
    *   - calendar-keyed (ath_rolling_revenue: per-day revenue within
    *     the 7-day broadcast range self-join — days, not rows). */
  private val bnljAllowed: Map[String, Int] = Map(
    "ann_range" -> 1, "ath_rolling_revenue" -> 1, "dd_threshold_curve" -> 1,
    "emb_hard_negatives" -> 1, "emb_mmr_rerank" -> 1,
    "evt_activity_curve" -> 1, "evt_power_curve" -> 1,
    "smp_interleave" -> 1, "smp_mix_plan" -> 2, "smp_repeat_plan" -> 1)

  private def exchangeCounts(shape: String): (Int, Int) = {
    val ls = shape.linesIterator.map(_.trim).toSeq
    (ls.count(_.startsWith("Exchange[")),
      ls.count(_.startsWith("BroadcastExchange")))
  }

  test("every query's physical-plan fingerprint matches the golden file") {
    // Artifact-cache state is suite-order dependent (an earlier suite's
    // persist/load test can swap a derived artifact for a parquet-loaded
    // checkpoint with different partitioning, flipping AQE decisions in
    // every downstream consumer's plan). Fingerprints must not depend on
    // which suites ran first: drop the dir's artifacts and fingerprint
    // from the cold state this spec creates itself — the first consumer
    // in sorted order derives, the rest read its checkpoint, every run.
    graft.operators.ArtifactCache.invalidateDir(spark, sfDir)
    // coverage floor for the pin table (round-11 verdict ask): the 1 s+
    // bench line plus every iterative-graph op must stay pinned
    assert(exchangePinned.size >= 42 &&
      exchangePinned.count(_.startsWith("gr_")) >= 13)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val bnljBad = scala.collection.mutable.ArrayBuffer[String]()
    val shapes = names.map { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // r13 bug-class guard: every nested-loop broadcast must carry a
      // provably bounded build side in EVERY pinned plan — the walk
      // accepts 1-row aggregates, literal limits/relations and the
      // prefixSum partition-offset table; everything else lands here
      // and must clear the reviewed allowlist below
      val v = PlanFingerprint.bnljViolations(df.queryExecution.executedPlan)
      if (v.size > bnljAllowed.getOrElse(n, 0))
        bnljBad += s"$n: ${v.size} non-provable BNLJ build side(s), " +
          s"allowlist admits ${bnljAllowed.getOrElse(n, 0)}\n${v.mkString("\n\n")}"
      n -> PlanFingerprint.shape(df)
    }
    assert(bnljBad.isEmpty,
      s"unbounded BroadcastNestedLoopJoin build sides (|stream|×|build| " +
        s"scale-killers; if the build side is key-domain- or " +
        s"contract-bounded, extend bnljAllowed WITH A JUSTIFICATION):\n" +
        bnljBad.mkString("\n\n"))
    val current = shapes.map { case (n, s) => n -> PlanFingerprint.hash(s) }

    val shapeMap = shapes.toMap
    val currentEx = exchangePinned.map { n =>
      val (sh, bc) = exchangeCounts(shapeMap(n)); (n, sh, bc)
    }

    if (sys.env.contains("SPARK_GRAFT_REGEN_FPS")) {
      Files.createDirectories(fpPath.getParent)
      Files.write(fpPath, current.map { case (n, h) => s"$n\t$h" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      Files.write(shapesPath, shapes.map { case (n, s) => s"==== $n\n$s" }
        .mkString.getBytes(StandardCharsets.UTF_8))
      Files.write(exPath, currentEx.map { case (n, sh, bc) => s"$n\t$sh\t$bc" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      info(s"regenerated ${current.size} fingerprints")
    } else {
      assert(Files.exists(fpPath),
        "no golden fingerprints: run SPARK_GRAFT_REGEN_FPS=1 sbt \"testOnly graft.PlanFingerprintSpec\"")
      val golden = new String(Files.readAllBytes(fpPath), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty)
        .map { l => val Array(n, h) = l.split("\t"); n -> h }.toMap
      val missing = names.filterNot(golden.contains)
      val stale = golden.keySet -- names
      val changed = current.filter { case (n, h) => golden.get(n).exists(_ != h) }
      val goldenShapes = new String(Files.readAllBytes(shapesPath),
        StandardCharsets.UTF_8).split("(?m)^==== ").filter(_.nonEmpty)
        .map { b => val i = b.indexOf('\n'); b.take(i) -> b.drop(i + 1) }.toMap
      val detail = changed.take(3).map { case (n, _) =>
        s"--- $n: golden plan ---\n${goldenShapes.getOrElse(n, "?")}" +
          s"--- $n: current plan ---\n${shapes.toMap.apply(n)}"
      }.mkString("\n")
      // exchange-count table first: a drifted COUNT names the exact
      // regression class (added/removed shuffle or broadcast) on the
      // queries where it costs the most, before the generic hash diff
      assert(Files.exists(exPath),
        "no golden exchange counts: run SPARK_GRAFT_REGEN_FPS=1 sbt \"testOnly graft.PlanFingerprintSpec\"")
      val goldenEx = new String(Files.readAllBytes(exPath), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty)
        .map { l => val Array(n, sh, bc) = l.split("\t"); n -> (sh.toInt, bc.toInt) }
        .toMap
      currentEx.foreach { case (n, sh, bc) =>
        goldenEx.get(n).foreach { case (gsh, gbc) =>
          assert(sh == gsh,
            s"$n: SHUFFLE exchange count drifted $gsh -> $sh — an added/removed " +
              "shuffle on a top-bench query must be a reviewed change " +
              "(regen: SPARK_GRAFT_REGEN_FPS=1)")
          assert(bc == gbc,
            s"$n: broadcast exchange count drifted $gbc -> $bc " +
              "(broadcast->shuffle flips show in the shuffle count; " +
              "regen: SPARK_GRAFT_REGEN_FPS=1)")
        }
      }
      assert(missing.isEmpty && stale.isEmpty && changed.isEmpty,
        s"plan fingerprints drifted.\n  new keys: $missing\n  stale keys: $stale\n" +
          s"  changed: ${changed.map(_._1).mkString(", ")}\n$detail\n" +
          "intentional? regenerate: SPARK_GRAFT_REGEN_FPS=1 sbt \"testOnly graft.PlanFingerprintSpec\"")
    }
  }
}
