package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{ArtifactCache, Curation, Dedup}
import graft.sources.Tables

class CurationSpec extends SparkSpec {

  test("split is a total deterministic partition with sane proportions") {
    val split = Curation.trainValTestSplit(spark, sfDir)
    val nDocs = Tables.table(spark, sfDir, "documents").count()
    assert(split.count() == nDocs)
    val byName = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.values.sum == nDocs)
    // multiplicative hash is bijective mod 2^31 — buckets equidistribute;
    // allow generous slack at 500 docs
    assert(byName("train") > nDocs * 80 / 100 && byName("train") < nDocs * 97 / 100)
    assert(byName.getOrElse("val", 0L) + byName.getOrElse("test", 0L) > 0)
    // re-run is bit-identical (pure function of doc_id)
    val again = Curation.trainValTestSplit(spark, sfDir)
    assert(split.exceptAll(again).isEmpty && again.exceptAll(split).isEmpty)
  }

  test("stratified sample takes min(k, stratum size) per stratum, matching the window formulation") {
    val sample = Curation.stratifiedSample(spark, sfDir)
    val sizes = Tables.events(spark, sfDir).groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = sample.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == sizes.keySet)
    got.foreach { case (t, n) =>
      assert(n == math.min(Curation.StratumSampleK.toLong, sizes(t)))
    }
    // bounded-heap result == window row_number result
    val h = ((col("event_id") % Curation.HashMod) * Curation.HashMult) % Curation.HashMod
    val windowed = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), h.as("hk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy(col("hk"), col("event_id"))))
      .where(col("rn") <= Curation.StratumSampleK)
      .select(col("event_type"), col("rn").cast("int").as("rn"), col("event_id"))
    assert(sample.exceptAll(windowed).isEmpty && windowed.exceptAll(sample).isEmpty)
  }

  test("component labels equal the transitive closure min on a planted graph") {
    import spark.implicits._
    // two chains and a singleton edge: {1-2-3-4}, {10-11}, {20-21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("a_id", "b_id")
    val lbl = Curation.componentLabels(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("star CC converges in O(log n) rounds on a long chain, same labels") {
    import spark.implicits._
    // a 512-node chain has diameter 511: min-label propagation would
    // need ~511 rounds, far past MaxCcIterations — the star variant
    // must finish well inside ⌈log2(n)⌉ + slack
    val n = 512L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val lbl = Curation.componentLabelsStar(chain, maxIter = 14).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lbl.length == n)
    assert(lbl.forall(_._2 == 0L), lbl.filter(_._2 != 0L).take(5).mkString(","))
    // and on a multi-component shallow graph it matches min-label
    // propagation exactly (same fixpoint: smallest id per component)
    val g = Seq((1L, 5L), (5L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 20L)).toDF("a_id", "b_id")
    val star = Curation.componentLabelsStar(g).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prop = Curation.componentLabels(g).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == prop)
  }

  test("dedup components are consistent with the near-dup pair set") {
    val comp = Curation.dedupComponents(spark, sfDir)
    val cluster = comp.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // every near-dup pair lands in the same cluster
    Dedup.ngramJaccard(spark, sfDir).collect().foreach { r =>
      val (a, b) = (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))
      assert(cluster(a) == cluster(b), s"pair ($a,$b) split across clusters")
    }
    // cluster_id is a member of its own cluster and the minimum of it
    val members = cluster.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    members.foreach { case (c, minDoc) => assert(c == minDoc) }
    // every document appears exactly once
    assert(comp.count() == Tables.table(spark, sfDir, "documents").count())
  }

  test("cluster map save/load is train-once: consumers read the persisted map, never re-derive") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cmap").toString
    val (d1, d2) = (s"$base/corpus", s"$base/scrambled")
    val mapPath = s"$base/cluster_map.parquet"
    // planted corpus: {1,2} and {5,6} are ≥0.8-Jaccard near-dup pairs
    // (10-word text vs its 11-word extension shares 8 of 9 shingles),
    // doc 8 is a singleton
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    Seq((1L, t1), (2L, t1 + " lambda"), (5L, t2), (6L, t2 + " eleven"),
      (8L, "solo document entirely unlike every other text here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d1/documents.parquet")
    val expected = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 8L -> 8L)
    val m1 = Curation.clusterMap(spark, d1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == expected)
    ArtifactCache.save(spark, d1, "dd_cluster_labels", mapPath)
    // NO-RECOMPUTE proof (the codebook no-retrain pattern): a second
    // corpus dir with the SAME ids but all-unique scrambled texts. If
    // any consumer re-derived the fixpoint from the documents table,
    // every cluster would come back a singleton; reading the loaded
    // map reproduces the original clusters instead.
    Seq((1L, "aa bb cc dd ee ff gg hh"), (2L, "ii jj kk ll mm nn oo pp"),
      (5L, "qq rr ss tt uu vv ww xx"), (6L, "yy zz ab cd ef gh ij kl"),
      (8L, "mn op qr st uv wx yz az"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d2/documents.parquet")
    ArtifactCache.load(spark, d2, "dd_cluster_labels", mapPath)
    val viaLoad = Curation.dedupComponents(spark, d2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(viaLoad == expected,
      "consumer ignored the loaded cluster map and re-derived the fixpoint")
    val folds = Curation.kfoldAssign(spark, d2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("fold")).toMap
    assert(folds(1L) == folds(2L) && folds(5L) == folds(6L),
      "k-fold assignment did not ride the loaded cluster map")
    // invalidation re-opens the derivation path: scrambled texts have
    // no near-dup pairs, so every doc becomes its own cluster
    ArtifactCache.invalidateDir(spark, d2)
    val rederived = Curation.dedupComponents(spark, d2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(rederived == expected.keys.map(k => k -> k).toMap)
  }

  test("stale persisted cluster map degrades safely: new docs become singletons, deleted rows drop") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cmap_stale").toString
    val (d1, d2) = (s"$base/corpus", s"$base/appended")
    val mapPath = s"$base/cluster_map.parquet"
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, t), (2L, t + " lambda"),
      (8L, "solo document entirely unlike every other text here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d1/documents.parquet")
    Curation.clusterMap(spark, d1)
    ArtifactCache.save(spark, d1, "dd_cluster_labels", mapPath)
    // the corpus grows (doc 9 appended) and shrinks (doc 8 deleted)
    // AFTER the map was persisted; loading the stale map must not
    // silently drop doc 9 from consumers nor resurrect doc 8
    Seq((1L, t), (2L, t + " lambda"), (9L, "a brand new never seen doc"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d2/documents.parquet")
    ArtifactCache.load(spark, d2, "dd_cluster_labels", mapPath)
    val got = Curation.dedupComponents(spark, d2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
    ArtifactCache.invalidateDir(spark, d2)
  }

  test("shard report: stable assignment, every doc counted exactly once") {
    val got = Curation.shardReport(spark, sfDir).collect()
    val docs = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars")))
    def shard(id: Long) = ((id % Curation.HashMod) * Curation.HashMult) %
      Curation.HashMod % Curation.ShardCount
    val expect = docs.groupBy { case (id, _) => shard(id) }
    assert(got.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
    got.foreach { r =>
      val s = r.getAs[Long]("shard")
      val e = expect(s)
      assert(r.getAs[Long]("n_docs") == e.length.toLong, s"shard $s")
      assert(r.getAs[Long]("n_chars") == e.map(_._2).sum)
      assert(r.getAs[Long]("min_doc_id") == e.map(_._1).min)
      assert(r.getAs[Long]("max_doc_id") == e.map(_._1).max)
    }
    // the assignment is a pure per-row expression: no exchange before
    // the report's one partial aggregate
    val plan = Curation.shardReport(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Join"), plan.take(300))
  }

  test("weighted mix realizes the target milli-epoch weights per language") {
    val mix = Curation.weightedMix(spark, sfDir)
    val docs = Tables.table(spark, sfDir, "documents")
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val emitted = mix.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val weights = Curation.MixWeightsMilli.toMap
    perLang.foreach { case (lang, n) =>
      val w = weights.getOrElse(lang, Curation.DefaultMixMilli)
      val (lo, hi) = (n * (w / 1000), n * (w / 1000 + (if (w % 1000 == 0) 0 else 1)))
      assert(emitted(lang) >= lo && emitted(lang) <= hi,
        s"$lang: emitted ${emitted(lang)} outside [$lo,$hi] for w=$w n=$n")
      // fractional epochs track the target rate (hash is equidistributed)
      if (w % 1000 != 0 && n >= 50) {
        val frac = (emitted(lang) - lo).toDouble / n
        val target = (w % 1000).toDouble / 1000
        assert(math.abs(frac - target) < 0.15, s"$lang frac=$frac target=$target")
      }
    }
    // every (doc, epoch) is unique and epochs are contiguous from 1
    val perDoc = mix.groupBy("doc_id").agg(count(lit(1)).as("n"),
      max("epoch").as("mx"), min("epoch").as("mn")).collect()
    perDoc.foreach { r =>
      assert(r.getAs[Long]("mn") == 1L && r.getAs[Long]("mx") == r.getAs[Long]("n"))
    }
  }

  test("sequence packing respects the budget and covers the corpus once") {
    val packed = Curation.sequencePack(spark, sfDir).collect()
    val docs = Tables.table(spark, sfDir, "documents")
    assert(packed.length == docs.count())
    assert(packed.map(_.getAs[Long]("doc_id")).distinct.length == packed.length)
    val byPack = packed.groupBy(r =>
      (r.getAs[Int]("bucket"), r.getAs[Int]("pack_idx")))
    byPack.foreach { case ((b, p), rows) =>
      val tot = rows.map(_.getAs[Long]("n_tokens")).sum
      // a pack only exceeds the budget if it holds a single oversized doc
      assert(tot <= Curation.PackBudget || rows.length == 1,
        s"pack ($b,$p) holds ${rows.length} docs / $tot tokens")
      // positions are 1..n
      assert(rows.map(_.getAs[Int]("pack_pos")).sorted.toSeq == (1 to rows.length))
    }
    // next-fit tightness: consecutive packs couldn't be merged — the first
    // doc of pack p+1 must not fit in pack p
    byPack.toSeq.sortBy(_._1).sliding(2).foreach {
      case Seq(((b1, p1), rows1), ((b2, p2), rows2)) if b1 == b2 && p2 == p1 + 1 =>
        val tot1 = rows1.map(_.getAs[Long]("n_tokens")).sum
        val first2 = rows2.minBy(_.getAs[Int]("pack_pos")).getAs[Long]("n_tokens")
        assert(tot1 + first2 > Curation.PackBudget,
          s"pack ($b1,$p1) could absorb the head of pack $p2")
      case _ =>
    }
  }

  test("packing and mixing plans keep their scale shape") {
    // smp_pack: exactly one hash exchange (the bucket shuffle) plus the
    // deterministic output range-sort — token counts reduce BEFORE it
    val packPlan = Curation.sequencePack(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(packPlan).length
    assert(exchanges <= 2, s"smp_pack has $exchanges exchanges:\n" +
      packPlan.linesIterator.take(15).mkString("\n"))
    // smp_weighted: pure generator — its only exchange is the output sort
    val mixPlan = Curation.weightedMix(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(mixPlan).length <= 1, mixPlan.take(400))
    assert(mixPlan.contains("Generate"))
    // neither reads the text column it doesn't need
    assert(!mixPlan.contains("text#"), "smp_weighted must prune text")
  }

  test("morton interleave: SQL formula equals the bit-twiddling reference") {
    import spark.implicits._
    // known points: u bits land on odd positions, v bits on even
    assert(Curation.mortonRef(0L, 0L) == 0L)
    assert(Curation.mortonRef(1L, 0L) == 2L)
    assert(Curation.mortonRef(0L, 1L) == 1L)
    assert(Curation.mortonRef(255L, 255L) == 65535L)
    assert(Curation.mortonRef(3L, 5L) == (2L + 8L) + (1L + 16L))
    val grid = (for (u <- 0L until 256L by 17L; v <- 0L until 256L by 13L)
      yield (u, v)).toDF("u", "v")
    val got = grid.withColumn("z",
      org.apache.spark.sql.functions.expr(Curation.mortonSql("u", "v", "DIV")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got.foreach { case ((u, v), z) => assert(z == Curation.mortonRef(u, v), s"($u,$v)") }
  }

  test("z-order key stays in range and keeps its scale shape") {
    val df = Curation.zorderKey(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the only non-equi join is the 1-row bounds broadcast
    assert(!plan.contains("CartesianProduct"), plan.take(800))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    val rows = df.collect()
    assert(rows.length == graft.sources.Tables.events(spark, sfDir).count())
    rows.foreach { r =>
      val z = r.getAs[Long]("zval")
      assert(z >= 0L && z < (1L << (2 * Curation.ZBits)))
    }
  }

  test("multiplicative hash is a bijection on sampled id ranges") {
    // distinct ids → distinct hashes (odd multiplier mod 2^31); spot-check
    // contiguous and strided ranges crossing the modulus
    Seq(0L until 10000L, (1L to 500000L by 97L).map(identity),
        (Curation.HashMod - 5000L) until (Curation.HashMod + 5000L))
      .foreach { ids =>
        val hs = ids.map(id =>
          ((id % Curation.HashMod) * Curation.HashMult) % Curation.HashMod)
        assert(hs.distinct.size == ids.map(_ % Curation.HashMod).distinct.size)
      }
  }

  test("curated corpus keeps only passing, English, canonical documents") {
    val curated = Curation.curate(spark, sfDir)
    val rows = curated.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("pred_lang") == "en"))
    assert(rows.forall(_.getAs[Double]("quality_score") >= 0.5))
    // no two curated docs share exact content
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    val dupGroups = Tables.table(spark, sfDir, "documents")
      .select(sha2(col("text"), 256).as("h"), col("doc_id")).collect()
      .groupBy(_.getString(0)).values.map(_.map(_.getLong(1)).sorted)
      .filter(_.length > 1).toSeq
    // exact dedup keeps the smallest id of every multi-copy group
    val canonical = Dedup.exact(spark, sfDir)
      .where(col("n_copies") > 1).collect()
      .map(r => r.getAs[Long]("canonical_doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(canonical == dupGroups.map(g => g.head -> g.length.toLong).toMap)
    val nonCanon = dupGroups.flatMap(_.tail)
    assert(nonCanon.forall(id => !ids.contains(id)))
  }

  test("curriculum: range-sorted with no window; balanced under one-decile mode concentration") {
    import spark.implicits._
    // plan shape: a TeraSort-style range exchange, never a decile window
    val plan = Curation.curriculum(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "decile window snuck into curriculum")
    assert(plan.toLowerCase.contains("rangepartitioning"), plan.take(400))
    // 99% of scores in ONE decile (a clip-capped corpus): the range
    // boundaries sample the hash key too, so the heavy decile must
    // split across partitions instead of collapsing into one
    val n = 20000
    val q = (1 to n)
      .map(i => (i.toLong, if (i % 100 == 0) 0.05 else 0.73))
      .toDF("doc_id", "quality_score")
    // probe the RANGE PARTITIONER itself (a pinned partition count —
    // curriculum's orderBy uses the same partitioner, then AQE may
    // coalesce adjacent small ranges by SIZE, which preserves balance)
    val p = spark.sessionState.conf.numShufflePartitions
    val pops = Curation.curriculumOf(q)
      .repartitionByRange(p, col("q_bucket").desc, col("shuffle_key"),
        col("doc_id"))
      .groupBy(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .count().collect().map(_.getAs[Long]("count"))
    assert(pops.length == p, s"expected $p partitions, got ${pops.length}")
    assert(pops.max <= 2L * n / p,
      s"mode-concentrated decile collapsed: max=${pops.max}, bound=${2L * n / p}")
  }

  test("curriculum orders by quality decile desc, hash-shuffled within decile") {
    val out = Curation.curriculum(spark, sfDir)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(400))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val q = graft.operators.TextAnalysis.quality(spark, sfDir)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.length == q.size)
    val expect = q.toSeq.map { case (id, s) =>
      (id, math.floor(s * 10.0).toInt,
        ((id % Curation.HashMod) * Curation.HashMult) % Curation.HashMod)
    }.sortBy { case (id, b, h) => (-b, h, id) }
    assert(rows.toSeq == expect)
    // multiple deciles actually occur (the ordering is non-trivial)
    assert(rows.map(_._2).distinct.length > 1)
  }

  test("DSIR resample favors the target domain and matches a brute-force recompute") {
    val out = Curation.dsirResample(spark, sfDir)
    // selection is a top-k, never a global window sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    val rows = out.collect()
    assert(rows.length == Curation.DsirTopK)
    // brute-force the unigram likelihood-ratio mean on the driver
    val docs = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSeq))
    val cr = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val ct = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    docs.foreach { case (_, lang, toks) =>
      toks.foreach { t =>
        cr(t) += 1
        if (lang == Curation.DsirTargetLang) ct(t) += 1
      }
    }
    val nr = cr.values.sum.toDouble
    val nt = ct.values.sum.toDouble
    val v = cr.size.toDouble
    val scale = graft.operators.TextAnalysis.LmScale.toDouble
    val wByDoc = docs.map { case (id, _, toks) =>
      val s = toks.map { t =>
        val r = ((ct(t) + 1.0) * (nr + v)) / ((cr(t) + 1.0) * (nt + v))
        math.floor(r * scale)
      }.foldLeft(BigDecimal(0))(_ + BigDecimal(_))
      id -> (s.toDouble / scale / toks.size)
    }.toMap
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2) - wByDoc(r.getLong(0))) < 1e-12,
        s"doc ${r.getLong(0)}")
    }
    // the selected set is exactly the brute-force top-k
    val expectTop = wByDoc.toSeq.sortBy { case (id, w) => (-w, id) }
      .take(Curation.DsirTopK).map(_._1).toSet
    assert(rows.map(_.getLong(0)).toSet == expectTop)
    // target-domain docs should be overrepresented among the selected
    val langOf = docs.map(d => d._1 -> d._2).toMap
    val selEn = rows.count(r => langOf(r.getLong(0)) == Curation.DsirTargetLang)
    val baseEn = docs.count(_._2 == Curation.DsirTargetLang).toDouble / docs.length
    assert(selEn.toDouble / rows.length > baseEn, s"$selEn/${rows.length} vs $baseEn")
  }

  test("temperature sample: allocations match √count shares, selection is the hash prefix") {
    import graft.sources.Tables
    val rows = Curation.temperatureSample(spark, sfDir).collect()
    val counts = Tables.table(spark, sfDir, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nTotal = counts.values.sum
    val qs = counts.map { case (s, c) =>
      s -> math.floor(math.sqrt(c.toDouble) * Curation.TemperatureScale).toLong
    }
    val sQ = qs.values.sum
    val expected = qs.map { case (s, q) => s -> (nTotal / 2) * q / sQ }
    val got = rows.groupBy(_.getAs[String]("source")).map { case (s, g) =>
      s -> g.length.toLong
    }
    expected.filter(_._2 > 0).foreach { case (s, n) =>
      assert(got.getOrElse(s, 0L) == n, s"source $s: got ${got.get(s)} want $n")
    }
    // α = 1/2 flattens shares: the selected max/min source ratio never
    // exceeds the raw-count ratio (strictly below once counts are skewed
    // — at this sf the sources are uniform, so both ratios are 1)
    val rawRatio = counts.values.max.toDouble / counts.values.min
    val selRatio = got.values.max.toDouble / got.values.min
    assert(selRatio <= rawRatio && selRatio >= 1.0, s"$selRatio vs $rawRatio")
    // the allocation formula itself flattens a skewed corpus: 100:1 raw
    // becomes 10:1 allocated (√), checked in pure integer arithmetic
    val skew = Map("big" -> 10000L, "small" -> 100L)
    val sq = skew.map { case (s, c) =>
      s -> math.floor(math.sqrt(c.toDouble) * Curation.TemperatureScale).toLong }
    val tot = skew.values.sum; val sqTot = sq.values.sum
    val al = sq.map { case (s, q) => s -> (tot / 2) * q / sqTot }
    val alRatio = al("big").toDouble / al("small")
    assert(alRatio < 11 && alRatio > 9, s"allocated ratio $alRatio")
    // within a source, the sample is exactly the alloc smallest hashes
    val hk = Tables.table(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def h(id: Long) = ((id % Curation.HashMod) * Curation.HashMult) % Curation.HashMod
    rows.groupBy(_.getAs[String]("source")).foreach { case (s, g) =>
      val want = hk.filter(_._1 == s).map(_._2)
        .sortBy(id => (h(id), id)).take(g.length).toSet
      assert(g.map(_.getAs[Long]("doc_id")).toSet == want, s"source $s")
    }
  }

  test("cluster stats partition the corpus: docs sum to corpus size") {
    val rows = Curation.clusterStats(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") ==
        r.getAs[Long]("cluster_size") * r.getAs[Long]("n_clusters"))
    }
    val totalDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs ==
      graft.sources.Tables.table(spark, sfDir, "documents").count())
    // singletons dominate a mostly-unique corpus, but dup clusters exist
    val singles = rows.find(_.getAs[Long]("cluster_size") == 1L)
    assert(singles.nonEmpty)
    assert(rows.exists(_.getAs[Long]("cluster_size") > 1L))
  }

  test("canonical-by-quality keeps exactly one max-quality doc per cluster") {
    val rows = Curation.canonicalByQuality(spark, sfDir).collect()
    val clusters = Curation.dedupComponents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // same cluster assignment as the min-id resolver
    rows.foreach(r => assert(
      r.getAs[Long]("cluster_id") == clusters(r.getAs[Long]("doc_id"))))
    val byCluster = rows.groupBy(_.getAs[Long]("cluster_id"))
    byCluster.foreach { case (cid, g) =>
      val canon = g.filter(_.getAs[Boolean]("is_canonical"))
      assert(canon.length == 1, s"cluster $cid")
      val best = g.map(r =>
        (-r.getAs[Double]("quality_score"), r.getAs[Long]("doc_id"))).min
      assert(canon.head.getAs[Long]("doc_id") == best._2, s"cluster $cid")
    }
    // the quality-aware choice must differ from min-id on SOME multi-doc
    // cluster at this scale, or the operator adds nothing
    val multi = byCluster.filter(_._2.length > 1)
    assert(multi.nonEmpty)
    val differs = multi.exists { case (cid, g) =>
      g.filter(_.getAs[Boolean]("is_canonical")).head.getAs[Long]("doc_id") != cid
    }
    assert(differs, "quality canonical never diverged from min-id canonical")
  }

  test("leakage-safe split: near-dup pairs never straddle splits, total partition") {
    val split = Curation.leakageSafeSplit(spark, sfDir)
    val nDocs = Tables.table(spark, sfDir, "documents").count()
    assert(split.count() == nDocs)
    val bySplit = split.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    // THE leakage property: every Jaccard near-dup pair lands in ONE split
    val pairs = Dedup.ngramJaccard(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(bySplit(a) == bySplit(b), s"pair ($a,$b) straddles the split")
    }
    // the naive per-doc split DOES straddle some pair at this scale, or
    // the operator adds nothing over smp_split
    val naive = Curation.trainValTestSplit(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(pairs.exists { case (a, b) => naive(a) != naive(b) },
      "naive split never straddled a near-dup pair; test has no power")
  }

  test("token budget: two-phase cumsum equals the single global window, budget held") {
    import org.apache.spark.sql.functions._
    val got = Curation.tokenBudgetSelect(spark, sfDir)
    // single-window reference formulation (the thing we refuse to run at
    // scale: one unpartitioned ORDER BY window)
    val q = graft.operators.TextAnalysis.quality(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val budget = q.agg(expr("sum(n_tokens) DIV 2")).collect()(0).getLong(0)
    val w = Window.orderBy(col("quality_score").desc, col("doc_id"))
    val ref = q.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budget)
      .select("doc_id", "n_tokens", "quality_score", "cum_tokens")
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    // budget is actually binding (some docs excluded) and held
    assert(got.count() < q.count())
    val maxCum = got.agg(max("cum_tokens")).collect()(0).getLong(0)
    assert(maxCum <= budget)
    // plan shape: every window is partitioned (by q_bucket) — the global
    // ORDER BY window above must NOT be what the operator runs
    val plan = got.queryExecution.executedPlan.toString
    plan.split("\n").filter(_.contains("windowspecdefinition(")).foreach { l =>
      assert(!l.contains("windowspecdefinition(_w"), s"unpartitioned window: $l")
    }
  }

  test("negative sampling: no sampled pair was purchased, slots deterministic") {
    val neg = Curation.negativeSampling(spark, sfDir).collect()
    assert(neg.nonEmpty)
    val purchased = Tables.sales(spark, sfDir)
      .select("customer_id", "product_id").distinct().collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .toSet
    val nProducts = Tables.products(spark, sfDir).count()
    neg.foreach { r =>
      val (c, p) = (r.getAs[Long]("customer_id"), r.getAs[Long]("product_id"))
      assert(!purchased.contains((c, p)), s"sampled a purchased pair ($c,$p)")
      assert(p >= 0 && p < nProducts)
      // the slot hash is reproducible: recompute it
      val idx = r.getAs[Long]("cand_idx")
      val h = ((c * Curation.NegK + idx) % 2147483648L) * 2654435761L % 2147483648L
      assert(p == h % nProducts)
    }
    // every customer yields at most NegK slots, and misses only to
    // purchased collisions
    val perCust = neg.groupBy(_.getAs[Long]("customer_id"))
    perCust.foreach { case (c, rows) =>
      assert(rows.length <= Curation.NegK)
      val missing = Curation.NegK - rows.length
      val collided = (0L until Curation.NegK).count { i =>
        val h = ((c * Curation.NegK + i) % 2147483648L) * 2654435761L % 2147483648L
        purchased.contains((c, h % nProducts))
      }
      assert(missing == collided, s"customer $c dropped non-collision slots")
    }
  }

  test("mix report equals the materialized weighted-mix composition") {
    val report = Curation.mixReport(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_mix_rows"),
          r.getAs[Long]("target_milli"), r.getAs[Long]("realized_milli"))).toMap
    val mixRows = Curation.weightedMix(spark, sfDir).collect()
      .groupBy(_.getAs[String]("lang")).view.mapValues(_.length.toLong).toMap
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("lang")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.length.toLong).toMap
    assert(report.keySet == docs.keySet)
    report.foreach { case (lang, (n, rows, target, realized)) =>
      assert(n == docs(lang), s"$lang docs")
      assert(rows == mixRows.getOrElse(lang, 0L), s"$lang mix rows")
      assert(realized == rows * 1000 / n, s"$lang realized")
      // the hash-chosen fractional epoch keeps realized near target
      assert(math.abs(realized - target) <= 100, s"$lang drift")
    }
  }

  test("dedup soft weights: every cluster carries exactly unit mass") {
    val w = Curation.dedupWeights(spark, sfDir).collect()
    assert(w.nonEmpty)
    w.foreach { r =>
      assert(r.getAs[Double]("weight") ==
        1.0 / r.getAs[Long]("cluster_size"), "weight is 1/cluster_size")
    }
    val byCluster = w.groupBy(_.getAs[Long]("cluster_id"))
    assert(byCluster.exists(_._2.length > 1), "near-dup clusters exist here")
    byCluster.values.foreach { g =>
      assert(g.length == g.head.getAs[Long]("cluster_size").toInt)
      val mass = g.map(_.getAs[Double]("weight")).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"cluster mass $mass")
    }
  }

  test("kfold: near-dup clusters never straddle folds, folds near-balanced") {
    val rows = Curation.kfoldAssign(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("fold")))
    assert(rows.length ==
      graft.sources.Tables.table(spark, sfDir, "documents").count())
    rows.foreach { case (_, _, f) => assert(f >= 0 && f < Curation.KFolds) }
    // leakage guard: every member of a cluster lands in the same fold
    rows.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).distinct.length == 1, "cluster split across folds")
    }
    // the hash spreads clusters: no fold owns more than half the corpus
    val sizes = rows.groupBy(_._3).view.mapValues(_.size).values
    assert(sizes.max < rows.length / 2)
  }

  test("interleave: total collision-free order that round-robins sources") {
    val rows = Curation.interleave(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("rn"), r.getAs[Long]("order_key")))
    val nDocs = graft.sources.Tables.table(spark, sfDir, "documents").count()
    assert(rows.length == nDocs)
    // order keys are unique (total order)
    assert(rows.map(_._4).distinct.length == rows.length)
    // within any consecutive window of #sources keys, sources are distinct
    val nsrc = rows.map(_._2).distinct.length
    val ordered = rows.sortBy(_._4)
    ordered.take(nsrc * 10).grouped(nsrc).foreach { g =>
      assert(g.map(_._2).distinct.length == g.length,
        "a full round must visit distinct sources")
    }
    // determinism: re-run identical
    assert(Curation.interleave(spark, sfDir).collect()
      .map(_.getAs[Long]("order_key")).toSeq == rows.map(_._4).toSeq)
  }

  test("mix plan replays sequential water-filling exactly") {
    val rows = Curation.mixPlan(spark, sfDir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("allocation"), r.getAs[Boolean]("capped")))
    val total = rows.map(_._2).sum
    val budget = total / 2
    // sequential reference: ascending (tokens, name); take whole while
    // the headroom supports giving every later source at least as much
    val asc = rows.sortBy(t => (t._2, t._1))
    var remaining = budget
    var m = asc.length
    val exp = scala.collection.mutable.Map[String, (Long, Boolean)]()
    val cappedQ = scala.collection.mutable.ArrayBuffer[String]()
    var levelled = false
    asc.foreach { case (s, n, _, _) =>
      // once one source hits the water line, every LARGER source is
      // capped too (taking it whole would out-allocate a peer)
      if (!levelled && n * m <= remaining) { exp(s) = (n, false); remaining -= n }
      else { levelled = true; cappedQ += s }
      m -= 1
    }
    if (cappedQ.nonEmpty) {
      val base = remaining / cappedQ.length
      val rem = remaining % cappedQ.length
      cappedQ.zipWithIndex.foreach { case (s, i) =>
        exp(s) = (base + (if (i < rem) 1L else 0L), true)
      }
    }
    rows.foreach { case (s, n, alloc, capped) =>
      assert((alloc, capped) == exp(s), s"source $s")
      assert(alloc <= n, "never allocate more than a source has")
    }
    // the plan spends exactly the budget whenever anything is capped
    if (rows.exists(_._4)) assert(rows.map(_._3).sum == budget)
  }

  test("host-weighted sampling: weights normalize, follow the host prior") {
    val rows = Curation.hostWeighted(spark, sfDir).collect()
    val nDocs = Tables.table(spark, sfDir, "documents").count()
    assert(rows.length == nDocs.toInt)
    // the normalizer goes through the fixed-point FLOOR (truncation
    // biases it low by < 1e-7 per doc), so the sum sits just above 1
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(wsum >= 1.0 - 1e-9 && wsum < 1.0 + 1e-4, s"weights sum to $wsum")
    val psum = rows.map(_.getAs[Double]("expected_picks")).sum
    assert(math.abs(psum - Curation.HostSampleBudget) < 0.2)
    rows.foreach { r =>
      assert(r.getAs[Double]("weight") > 0.0)
      assert(r.getAs[Long]("host_id") ==
        r.getAs[Long]("doc_id") % graft.operators.Url.HostMod)
    }
    // same host => identical weight (the prior acts at host granularity)
    rows.groupBy(_.getAs[Long]("host_id")).values.foreach { g =>
      assert(g.map(_.getAs[Double]("weight")).distinct.length == 1)
    }
    // the prior is non-degenerate: hosts genuinely differ
    assert(rows.map(_.getAs[Double]("weight")).distinct.length > 1)
  }

  test("trust-weighted sampling: spam damps the prior, seeds keep full rank") {
    val rows = Curation.trustWeighted(spark, sfDir).collect()
    val nDocs = Tables.table(spark, sfDir, "documents").count()
    assert(rows.length == nDocs.toInt)
    val wsum = rows.map(_.getAs[Double]("weight")).sum
    assert(wsum >= 1.0 - 1e-9 && wsum < 1.0 + 1e-4, s"weights sum to $wsum")
    val trust = graft.operators.Graph.hostTrust(spark, sfDir).collect()
      .map(r => r.getAs[Long]("host_id") ->
        (r.getAs[Double]("pagerank"), r.getAs[Double]("spam_mass"))).toMap
    rows.foreach { r =>
      val h = r.getAs[Long]("host_id")
      val (pr, sm) = trust(h)
      // the composed prior is exactly pagerank · clamp(1 − spam_mass)
      val factor = math.min(1.0, math.max(0.0, 1.0 - sm))
      assert(r.getAs[Double]("prior") == pr * factor, s"host $h prior")
      assert(r.getAs[Boolean]("demoted") == (sm > Curation.SpamMassDemote))
      // never upweighted above the raw rank prior
      assert(r.getAs[Double]("prior") <= pr + 1e-15, s"host $h cap")
    }
    // the screen bites: some host's prior sits strictly below its rank
    assert(rows.exists(r =>
      r.getAs[Double]("prior") < trust(r.getAs[Long]("host_id"))._1))
    // seeds (u % 3 == 0, spam mass <= 0) keep their full rank as prior
    rows.filter(r => trust(r.getAs[Long]("host_id"))._2 <= 0.0).foreach { r =>
      assert(r.getAs[Double]("prior") ==
        trust(r.getAs[Long]("host_id"))._1, s"seed host ${r.getAs[Long]("host_id")}")
    }
  }

  test("repeat plan replays the sequential quality-greedy allocation") {
    val rows = Curation.repeatPlan(spark, sfDir).collect()
    // quality-rank order is total and 1..n
    assert(rows.map(_.getAs[Int]("q_rank")).toSeq ==
      (1 to rows.length))
    val sorted = rows.sortBy(_.getAs[Int]("q_rank"))
    // ranks follow (avg_quality desc, source asc)
    sorted.sliding(2).foreach { case Array(a, b) =>
      val (qa, qb) = (a.getAs[Double]("avg_quality"), b.getAs[Double]("avg_quality"))
      assert(qa > qb || (qa == qb &&
        a.getAs[String]("source") < b.getAs[String]("source")))
    }
    // replay the prefix-want rule: epochs_s = min(cap, max(0, B−W_{s−1})
    // DIV n_s), W = cumulative FULL wants of better-ranked sources (the
    // boundary source's remainder stays unallocated — no sub-epoch
    // smearing over the low-quality tail)
    val budget = rows.map(_.getAs[Long]("n_tokens")).sum * Curation.RepeatFactor
    var prevWant = 0L
    sorted.foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val avail = math.max(budget - prevWant, 0L)
      val want = math.min(Curation.MaxEpochs, if (n == 0) 0L else avail / n)
      assert(r.getAs[Long]("epochs") == want, r.getAs[String]("source"))
      assert(r.getAs[Long]("tokens_used") == want * n)
      prevWant += Curation.MaxEpochs * n
    }
    // the 2x budget actually forces differentiated repetition
    assert(rows.map(_.getAs[Long]("epochs")).distinct.length > 1)
    assert(rows.map(_.getAs[Long]("tokens_used")).sum <= budget)
  }
}
