package graft

import org.apache.spark.sql.functions._
import graft.operators.{ArtifactCache, Graph}
import graft.sources.Tables

class GraphSpec extends SparkSpec {

  test("pagerank mass stays ~1 and covers every connected node") {
    val pr = Graph.pagerank(spark, sfDir).collect()
    assert(pr.nonEmpty)
    val mass = pr.map(_.getAs[Double]("pagerank")).sum
    // fixed-point FLOOR in each round only ever drops mass, ≤ 1e-7 per
    // (node, round): the total stays just under 1
    assert(mass <= 1.0 + 1e-9 && mass > 0.99, s"mass $mass")
    assert(pr.forall(_.getAs[Double]("pagerank") > 0))
    val kinds = pr.map(_.getAs[String]("kind")).toSet
    assert(kinds == Set("customer", "product"))
  }

  test("pagerank conserves mass on a general graph with sinks") {
    import spark.implicits._
    // 3 and 5 are sinks (no out-edges); 4 has no in-edges
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 1L), (2L, 5L))
      .toDF("u", "v")
    val pr = Graph.pagerankOn(spark, edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // without the dangling term, 0.85·(pr(3)+pr(5)) would leak per
    // round (~30%+ of the mass here); fixed-point FLOOR drops ≤ 1e-7
    // per (node, round)
    val mass = pr.values.sum
    assert(math.abs(mass - 1.0) < 1e-5, s"mass $mass")
    // sinks accumulate, sources hold only teleport + dangling share
    assert(pr(3L) > pr(4L) && pr(5L) > pr(4L))
    assert(pr.values.forall(_ > 0))
  }

  test("pagerank ranks a max-degree node above a min-degree node") {
    val sales = graft.sources.Tables.sales(spark, sfDir)
      .select((col("customer_id") * 2).as("u"),
        (col("product_id") * 2 + 1).as("v")).distinct()
    val deg = sales.unionAll(sales.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u").agg(count(lit(1)).as("deg")).collect()
      .map(r => r.getAs[Long]("u") -> r.getAs[Long]("deg")).toMap
    val pr = Graph.pagerank(spark, sfDir).collect()
      .map(r => r.getAs[Long]("node_id") -> r.getAs[Double]("pagerank")).toMap
    val hub = deg.maxBy(_._2)._1
    val leaf = deg.minBy(_._2)._1
    assert(pr(hub) > pr(leaf))
  }

  test("pagerank is deterministic across runs and repartitioning") {
    val a = Graph.pagerank(spark, sfDir).collect().toSeq
    val b = Graph.pagerank(spark, sfDir).collect().toSeq
    assert(a == b)
  }

  test("degree distribution sums to the node count; degrees match brute force") {
    val rows = Graph.degrees(spark, sfDir).collect()
    val sales = graft.sources.Tables.sales(spark, sfDir)
      .select("customer_id", "product_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val custDeg = sales.groupBy(_._1).map { case (_, g) => g.length }
    val prodDeg = sales.groupBy(_._2).map { case (_, g) => g.length }
    val nNodes = rows.map(_.getAs[Long]("n_nodes")).sum
    assert(nNodes == custDeg.size + prodDeg.size)
    val gotCust = rows.filter(_.getAs[String]("kind") == "customer")
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_nodes")).toMap
    val expCust = custDeg.groupBy(identity[Int])
      .map { case (d, g) => d.toLong -> g.size.toLong }
    assert(gotCust == expCust)
  }

  test("pagerank plan has no CartesianProduct and no non-broadcast loop join") {
    val plan = Graph.pagerank(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("triangle counts match the brute-force census") {
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    // recompute the support-filtered co-purchase edge set directly
    val bp = graft.sources.Tables.sales(spark, sfDir)
      .select(expr("transaction_id DIV 10").as("b"), col("product_id").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = bp.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).iterator.collect {
      // NB: .iterator first — Map.collect with a pair-valued function
      // would rebuild a Map keyed on the first element, collapsing the
      // edge set to one edge per left endpoint
      case (e, g) if g.size >= Graph.TriMinSupport => e
    }.toSet
    val adj = edges.groupBy(_._1).map { case (a, g) => a -> g.map(_._2).toSet }
    val triCount = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj.getOrElse(a, Set.empty[Long])
         if c > b && adj.getOrElse(b, Set.empty[Long]).contains(c)) {
      triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
    }
    val got = Graph.triangles(spark, sfDir).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("triangles")).toMap
    assert(got == triCount.toMap, s"got ${got.size} vs exp ${triCount.size}")
    assert(got.nonEmpty, "no triangles at test scale — census vacuous")
  }

  test("triangle plan is all equi-joins (no CartesianProduct)") {
    val plan = Graph.triangles(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("k-core reaches the exact peeling fixpoint (brute-force replay)") {
    import graft.sources.Tables
    import scala.collection.mutable
    val got = Graph.kcore(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("node_id"), r.getAs[String]("kind"),
        r.getAs[Long]("core_degree")))
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    Tables.sales(spark, sfDir).select("customer_id", "product_id")
      .distinct().collect().foreach { r =>
        val u = r.getLong(0) * 2; val v = r.getLong(1) * 2 + 1
        adj.getOrElseUpdate(u, mutable.Set.empty) += v
        adj.getOrElseUpdate(v, mutable.Set.empty) += u
      }
    var changed = true
    while (changed) {
      val drop = adj.filter(_._2.size < Graph.KCoreK).keys.toSeq
      changed = drop.nonEmpty
      drop.foreach { n => adj(n).foreach(m => adj(m) -= n); adj -= n }
    }
    val exp = adj.map { case (n, s) =>
      (n, if (n % 2 == 0) "customer" else "product", s.size.toLong) }.toSet
    assert(got.toSet == exp)
    assert(got.nonEmpty, "sf0.001 co-purchase graph has a 3-core")
    got.foreach(t => assert(t._3 >= Graph.KCoreK, s"node ${t._1} under k"))
  }

  test("assortativity: in [-1,1], matches a driver Pearson recompute") {
    val r = Graph.assortativity(spark, sfDir).head()
    val a = r.getAs[Double]("assortativity")
    assert(a >= -1.0 && a <= 1.0)
    // recompute from the clustering-coefficient degree table
    val deg = Graph.clusteringCoeff(spark, sfDir).collect()
      .map(x => x.getAs[Long]("product_id") -> x.getAs[Long]("degree")).toMap
    val b = graft.sources.Tables.sales(spark, sfDir)
      .select(org.apache.spark.sql.functions.expr("transaction_id DIV 10").as("bk"),
        org.apache.spark.sql.functions.col("product_id"))
      .distinct().collect().map(x => (x.getLong(0), x.getLong(1)))
      .groupBy(_._1).values.toSeq.flatMap { g =>
        val ps = g.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
      }.groupBy(identity).iterator.collect {
        // .iterator first: Map.collect with a pair-valued function
        // would rebuild a Map keyed on the left endpoint (the trap the
        // triangle census above documents)
        case (p, os) if os.size >= Graph.TriMinSupport.toInt => p
      }.toSeq
    val xy = b.flatMap { case (u, v) => Seq((deg(u), deg(v)), (deg(v), deg(u))) }
    val n = xy.length.toDouble
    val (sx, sy) = (xy.map(_._1).sum.toDouble, xy.map(_._2).sum.toDouble)
    val sxy = xy.map(p => p._1 * p._2).sum.toDouble
    val sxx = xy.map(p => p._1 * p._1).sum.toDouble
    val syy = xy.map(p => p._2 * p._2).sum.toDouble
    val exp = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(math.abs(a - exp) < 1e-9, s"$a vs $exp")
    assert(r.getAs[Long]("n_dir_edges") == xy.length.toLong)
  }

  test("planted near-overflow degrees: DECIMAL(19,0) pre-cast cross products stay exact where LONG throws") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.functions.{col, sum}
    // hub degrees past sqrt(Long.MaxValue) ≈ 3.04e9 — the magnitude at
    // which a raw long dx*dy overflows (and under Spark 4 ANSI mode
    // THROWS). The pre-cast sufficient-statistic shape shared by
    // gr_assortativity and gold_revenue_autocorr must stay exact there.
    val rows = Seq((4000000000L, 4100000000L),
      (3500000000L, 3600000000L), (7L, 9L))
    val big = rows.toDF("dx", "dy")
    val d19 = DecimalType(19, 0)
    val got = big.agg(
        sum((col("dx").cast(d19) * col("dy").cast(d19))
          .cast(DecimalType(38, 0))).as("sxy"))
      .head().getDecimal(0)
    val exp = rows.map { case (x, y) => BigInt(x) * BigInt(y) }.sum
    assert(BigInt(got.toBigInteger) == exp)
    // the discipline exists because the naive long product fails loudly
    val e = intercept[Throwable] { big.agg(sum(col("dx") * col("dy"))).head() }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
    assert(msgs.toLowerCase.contains("overflow"), msgs.take(300))
  }

  test("support histogram: pairs above the cut equal the edge-list size") {
    val hist = Graph.supportHist(spark, sfDir).collect()
      .map(r => r.getAs[Long]("n_co") -> r.getAs[Long]("n_pairs")).toMap
    assert(hist.nonEmpty)
    // the histogram's >= TriMinSupport mass must equal the support-
    // filtered edge count every graph op consumes
    val edgeCount = Graph.clusteringCoeff(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("degree")).head.getLong(0) / 2
    val aboveCut = hist.collect {
      case (s, n) if s >= Graph.TriMinSupport => n
    }.sum
    assert(aboveCut == edgeCount)
  }

  test("components partition the co-purchase nodes; sizes match union-find") {
    import org.apache.spark.sql.functions._
    val comps = Graph.components(spark, sfDir).collect()
      .map(r => r.getAs[Long]("component_id") -> r.getAs[Long]("n_products"))
    // brute-force union-find over the same support-filtered edges
    val cc = Graph.clusteringCoeff(spark, sfDir).collect()
    val nodes = cc.map(_.getAs[Long]("product_id"))
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    // recover the edge list from the degree table via the same coEdges
    // path triangles used: re-derive from sales directly
    val b = graft.sources.Tables.sales(spark, sfDir)
      .select(expr("transaction_id DIV 10").as("bk"), col("product_id")).distinct()
    val edges = b.join(b.select(col("bk"), col("product_id").as("pb")), Seq("bk"))
      .where(col("product_id") < col("pb"))
      .groupBy("product_id", "pb").agg(count(lit(1)).as("n"))
      .where(col("n") >= Graph.TriMinSupport)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (a, c) =>
      val (ra, rc) = (find(a), find(c))
      if (ra != rc) parent(math.max(ra, rc)) = math.min(ra, rc)
    }
    val exp = nodes.groupBy(find).map { case (r, ns) => r -> ns.length.toLong }
    assert(comps.toMap == exp)
    assert(comps.map(_._2).sum == nodes.length.toLong)
  }

  test("clustering coefficient: bounded, consistent with triangle counts") {
    val cc = Graph.clusteringCoeff(spark, sfDir).collect()
    val tri = Graph.triangles(spark, sfDir).collect()
      .map(r => r.getAs[Long]("product_id") -> r.getAs[Long]("triangles")).toMap
    assert(cc.nonEmpty)
    cc.foreach { r =>
      val c = r.getAs[Double]("clustering_coeff")
      assert(c >= 0.0 && c <= 1.0, s"coefficient $c out of range")
      assert(r.getAs[Long]("triangles") ==
        tri.getOrElse(r.getAs[Long]("product_id"), 0L))
      val d = r.getAs[Long]("degree")
      if (d >= 2)
        assert(c == 2.0 * r.getAs[Long]("triangles") / (d * (d - 1.0)))
    }
    // every triangle-carrying node appears (they all have degree >= 2)
    assert(tri.keySet.subsetOf(cc.map(_.getAs[Long]("product_id")).toSet))
  }

  test("persisted pair counts load-prime the cache: no basket re-join") {
    val path = java.nio.file.Files.createTempDirectory("graft_paircounts")
      .toString + "/pair_counts.parquet"
    val before = Graph.supportHist(spark, sfDir).collect()
      .map(r => r.getAs[Long]("n_co") -> r.getAs[Long]("n_pairs")).toMap
    ArtifactCache.save(spark, sfDir, "gr_pair_counts", path)
    ArtifactCache.invalidateDir(spark, sfDir)
    ArtifactCache.load(spark, sfDir, "gr_pair_counts", path)
    // the primed artifact serves every graph analytic as a checkpoint
    // scan — the basket self-join over the fact never re-runs
    val plan = Graph.supportHist(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan.take(300))
    assert(!plan.contains("Scan parquet"), "loaded counts re-join the fact")
    val after = Graph.supportHist(spark, sfDir).collect()
      .map(r => r.getAs[Long]("n_co") -> r.getAs[Long]("n_pairs")).toMap
    assert(after == before)
  }

  test("category modularity: masses reconcile, Q bounded, formula replays") {
    val rows = Graph.categoryModularity(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // independent brute-force edge count over the basket self-join
    val bp = graft.sources.Tables.sales(spark, sfDir)
      .select(expr("transaction_id DIV 10").as("bk"), col("product_id"))
      .distinct()
    val m = bp.join(bp.select(col("bk"), col("product_id").as("pb")), "bk")
      .where(col("product_id") < col("pb"))
      .groupBy("product_id", "pb").agg(count(lit(1)).as("n"))
      .where(col("n") >= Graph.TriMinSupport).count()
    // degree mass counts every edge endpoint exactly twice
    assert(rows.map(_.getAs[Long]("degree_sum")).sum == 2 * m)
    // intra mass can never exceed the edge total
    assert(rows.map(_.getAs[Long]("intra_edges")).sum <= m)
    // per-category contribution replays the closed form
    rows.foreach { r =>
      val mD = m.toDouble
      val dHalf = r.getAs[Long]("degree_sum").toDouble / (2 * mD)
      assert(r.getAs[Double]("q_contrib") ==
        r.getAs[Long]("intra_edges").toDouble / mD - dHalf * dHalf)
    }
    // Newman Q is bounded in [-1, 1]
    val q = rows.map(_.getAs[Double]("q_contrib")).sum
    assert(q >= -1.0 && q <= 1.0)
  }

  test("label propagation matches a brute-force synchronous replay") {
    val edges = Graph.undirected(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")))
    val nbrs = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var lbl: Map[Long, Long] = nbrs.keys.map(u => u -> u).toMap
    (1 to Graph.LabelpropIters).foreach { _ =>
      val prev = lbl
      lbl = nbrs.map { case (u, vs) =>
        val counts = vs.map(prev).groupBy(identity).map {
          case (l, g) => (l, g.length)
        }
        val mc = counts.values.max
        u -> counts.collect { case (l, c) if c == mc => l }.min
      }
    }
    val rows = Graph.labelprop(spark, sfDir).collect()
    assert(rows.length == lbl.size)
    rows.foreach { r =>
      assert(r.getAs[Long]("label") == lbl(r.getAs[Long]("node_id")))
    }
    // communities actually form: fewer labels than nodes
    assert(lbl.values.toSet.size < lbl.size)
  }

  test("hits matches a brute-force synchronous replay and sums to ~1 per side") {
    val edges = Tables.sales(spark, sfDir)
      .select("customer_id", "product_id").distinct().collect()
      .map(r => (r.getAs[Long]("customer_id"), r.getAs[Long]("product_id")))
    val scale = Graph.PrScale
    var hub: Map[Long, Double] =
      edges.map(_._1).distinct.map(_ -> 1.0).toMap
    var auth: Map[Long, Double] = Map.empty
    (1 to Graph.HitsIters).foreach { _ =>
      val ar = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => BigInt(math.floor(hub(e._1) * scale).toLong)).sum
      }
      val at = ar.values.sum
      auth = ar.map { case (v, s) => v -> s.toDouble / at.toDouble }
      val hr = edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => BigInt(math.floor(auth(e._2) * scale).toLong)).sum
      }
      val ht = hr.values.sum
      hub = hr.map { case (u, s) => u -> s.toDouble / ht.toDouble }
    }
    val rows = Graph.hits(spark, sfDir).collect()
    assert(rows.length == hub.size + auth.size)
    rows.foreach { r =>
      val expectedScore =
        if (r.getAs[String]("kind") == "customer") hub(r.getAs[Long]("entity_id"))
        else auth(r.getAs[Long]("entity_id"))
      assert(r.getAs[Double]("score") == expectedScore)
    }
    // L1 mass per side stays ~1 (floor drops at most 1 ulp-of-scale per node)
    assert(math.abs(hub.values.sum - 1.0) < 1e-6)
    assert(math.abs(auth.values.sum - 1.0) < 1e-6)
  }

  test("trustrank matches a brute-force synchronous replay; farms get none") {
    import spark.implicits._
    // seed 0 → 1 → 2; a spam farm {10, 11} loops among itself and
    // links INTO 1 (rank it can build; trust it cannot receive), and
    // 2 → 3 where 3 is a sink (dangling mass back to the seed vector)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L),
      (10L, 11L), (11L, 10L), (10L, 1L)).toDF("u", "v")
    val seeds = Seq(0L).toDF("u")
    val got = Graph.trustrankOn(spark, edges, seeds).collect()
      .map(r => r.getAs[Long]("u") -> r.getAs[Double]("pr")).toMap
    // driver replay with the same fixed-point discipline
    val scale = Graph.PrScale
    val out = Map(0L -> Seq(1L), 1L -> Seq(2L), 2L -> Seq(3L),
      10L -> Seq(11L, 1L), 11L -> Seq(10L))
    val nodes = Seq(0L, 1L, 2L, 3L, 10L, 11L)
    val sv = nodes.map(u => u -> (if (u == 0L) 1.0 else 0.0)).toMap
    var tr = sv
    (1 to Graph.PagerankIters).foreach { _ =>
      val cur = tr
      val msgs = nodes.map { u =>
        u -> out.toSeq.flatMap { case (s, ds) =>
          if (ds.contains(u))
            Some(math.floor(cur(s) / ds.length * scale).toLong)
          else None
        }.sum
      }.toMap
      val ds = nodes.filter(u => !out.contains(u))
        .map(u => math.floor(cur(u) * scale).toLong).sum
      tr = nodes.map { u =>
        u -> (0.15 * sv(u) + 0.85 *
          (msgs(u).toDouble / scale + ds.toDouble / scale * sv(u)))
      }.toMap
    }
    nodes.foreach(u => assert(got(u) == tr(u), s"node $u"))
    // the farm is unreachable from the seed: zero trust
    assert(got(10L) == 0.0 && got(11L) == 0.0)
    // trust actually flowed down the seed chain
    assert(got(1L) > 0.0 && got(2L) > 0.0 && got(3L) > 0.0)
  }

  test("trustrank clips out-of-graph seeds: teleport mass still sums to 1") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("u", "v")
    // seed 99 has no edges at all — it must not dilute |S|: with the
    // clip, seeds = {0} and the teleport vector sums to 1; without it
    // ns = 2 and every trust score silently halves
    val seeds = Seq(0L, 99L).toDF("u")
    val got = Graph.trustrankOn(spark, edges, seeds).collect()
      .map(r => r.getAs[Long]("u") -> r.getAs[Double]("pr")).toMap
    val solo = Graph.trustrankOn(spark, edges, Seq(0L).toDF("u")).collect()
      .map(r => r.getAs[Long]("u") -> r.getAs[Double]("pr")).toMap
    assert(got == solo)
    assert(!got.contains(99L))
  }

  test("host trust: spam mass separates endorsed hosts from unendorsed") {
    val rows = Graph.hostTrust(spark, sfDir).collect()
    val pr = Graph.hostRank(spark, sfDir).collect()
      .map(r => r.getAs[Long]("host_id") -> r.getAs[Double]("pagerank")).toMap
    rows.foreach { r =>
      val h = r.getAs[Long]("host_id")
      assert(r.getAs[Double]("pagerank") == pr(h), s"host $h pr drift")
      val sm = r.getAs[Double]("spam_mass")
      assert(sm == (pr(h) - r.getAs[Double]("trust")) / pr(h), s"host $h")
      assert(sm <= 1.0, s"host $h spam mass > 1")
    }
    // trust is a distribution over reachable hosts: total ≈ 1 modulo
    // fixed-point floor drops
    val tsum = rows.map(_.getAs[Double]("trust")).sum
    assert(tsum > 0.95 && tsum <= 1.0 + 1e-9)
    // seeds keep spam mass below the unendorsed extreme
    val seedSm = rows.filter(_.getAs[Long]("host_id") % 3 == 0)
      .map(_.getAs[Double]("spam_mass"))
    val maxSm = rows.map(_.getAs[Double]("spam_mass")).max
    assert(seedSm.max < maxSm)
  }
}
