package graft

import org.apache.spark.sql.functions._
import graft.operators.{ArtifactCache, Curation, Dedup}
import graft.sources.Tables

class DedupSpec extends SparkSpec {

  test("exact dedup partitions the corpus completely") {
    val groups = Dedup.exact(spark, sfDir)
    val total = groups.agg(sum("n_copies")).head.getLong(0)
    assert(total == 500)
  }

  test("ngram jaccard finds the planted near-duplicates, all above threshold") {
    val pairs = Dedup.ngramJaccard(spark, sfDir).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Double]("jaccard") >= Dedup.JaccardThreshold))
    assert(pairs.forall(r => r.getAs[Long]("a_id") < r.getAs[Long]("b_id")))
  }

  test("shingle df cap is inert at this scale and keeps precision 1 when active") {
    val uncapped = Dedup.ngramJaccardCapped(spark, sfDir, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val default = Dedup.ngramJaccard(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the production cap (1000) is far above this corpus's max df (9):
    // identical results, so the oracle hash is unaffected
    assert(default.sameElements(uncapped))
    // an aggressive cap may lose candidates (recall) but every surviving
    // pair is still exact-verified on FULL sets: a subset with the same
    // jaccard values (precision 1)
    val tight = Dedup.ngramJaccardCapped(spark, sfDir, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(tight.toSet.subsetOf(uncapped.toSet))
  }

  test("minhash LSH returns exactly the exact-jaccard pairs (recall 1 here)") {
    val exact = Dedup.ngramJaccard(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash pairs are within the hamming bound and include planted dups") {
    val sim = Dedup.simhash(spark, sfDir).collect()
    assert(sim.forall(_.getAs[Int]("hamming") <= Dedup.SimhashMaxHamming))
    val simPairs = sim.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // simhash is approximate; it should still catch most ≥0.96-jaccard dups
    assert(planted.isEmpty || (simPairs intersect planted).size * 2 >= planted.size)
  }

  test("simhash mega-bucket guard bounds candidate buckets on a skewed corpus") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text")
    // 8× exact copies of every doc: every block bucket inflates 8×,
    // common block values become mega-buckets
    val big = (0 until 8).map(i => docs.select(
        (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionAll _)
    val capped = Dedup.simhashOn(big, 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.simhashOn(big, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the guard only ever REMOVES candidate pairs (precision untouched)…
    assert(capped.subsetOf(uncapped))
    // …and on this skewed corpus it genuinely prunes
    assert(capped.size < uncapped.size)
    // at sandbox scale the default cap is a no-op: identical output
    val base = Dedup.simhashOn(docs, Dedup.SimhashBucketCap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseUncapped = Dedup.simhashOn(docs, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == baseUncapped)
  }

  test("span/shingle df stays under the cap at EVERY verified SF (exactness precondition)") {
    import org.apache.spark.sql.functions._
    import graft.functions.Shingles
    // spanDedup/ngramJaccard are exhaustively exact ONLY while no
    // shared span/shingle exceeds ShingleDfCap (a pair sharing only
    // banned keys would go unreported); assert the precondition per
    // verified scale factor so a boilerplate 8-gram crossing the cap at
    // a new SF fails HERE, loudly, instead of silently diverging the
    // driver's hash gate
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1");
        k <- Seq(3, Dedup.SpanK)) {
      val maxDf = graft.sources.Tables.table(spark, dir, "documents")
        .select(col("doc_id"),
          explode(Shingles.wordShinglesNative(col("text"), k)).as("s"))
        .groupBy("s").agg(count(lit(1)).as("df"))
        .agg(max("df")).head().getLong(0)
      assert(maxDf <= Dedup.ShingleDfCap,
        s"max $k-gram df $maxDf exceeds cap ${Dedup.ShingleDfCap} at $dir")
    }
  }

  test("simhash width derivation follows the bucket-population rule") {
    // 8-bit blocks hold n/256 docs: past 256·targetPop the keys widen
    assert(Dedup.simhashLanesFor(1000L) == 1)
    assert(Dedup.simhashLanesFor(16384L) == 1)
    assert(Dedup.simhashLanesFor(20000L) == 2)
    assert(Dedup.simhashLanesFor(4000000L) == 2)
    assert(Dedup.simhashLanesFor(10000000L) == 4)
    // SURVEY §5's worked example: 256-bit at n = 10^10
    assert(Dedup.simhashLanesFor(10000000000L) == 4)
    assert(Dedup.simhashLanesFor(300000000000L) == 8)
  }

  test("wide simhash keeps planted-dup recall where the 64-bit index saturates") {
    import spark.implicits._
    // deterministic corpus: 1200 random-token docs + 300 planted dups
    // (token-shuffled copies — identical token SET, hence identical
    // signature at ANY width, but not string-equal, so exact dedup
    // upstream would NOT collapse them)
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(5000)(i => s"w$i")
    def doc(): String =
      Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val base = (0L until 1200L).map(i => (i, doc()))
    val dups = base.take(300).map { case (i, t) =>
      (i + 100000L, rnd.shuffle(t.split(" ").toSeq).mkString(" ")) }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val planted = (0L until 300L).map(i => (i, i + 100000L)).toSet
    // cap chosen ≪ the 64-bit expected bucket population (1500/256 ≈ 6):
    // the sandbox-scale replica of 1M docs against the 4096 cap
    val cap = 2L
    def pairs(c: Long, lanes: Int): Set[(Long, Long)] =
      Dedup.simhashOn(docs, c, lanes).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(p: Set[(Long, Long)]): Double =
      (planted intersect p).size.toDouble / planted.size
    // saturated 64-bit index: most buckets overfull, the cap silently
    // drops planted pairs — the round-4 failure mode
    assert(recall(pairs(cap, 1)) < 1.0)
    // doubling the width (16-bit block keys) restores sparse buckets:
    // full recall under the SAME cap…
    val wide = pairs(cap, 2)
    assert(recall(wide) == 1.0)
    // …and the cap is back to a no-op guard (capped ≡ uncapped)
    assert(wide == pairs(Long.MaxValue, 2))
  }

  test("native shingles equal the declarative higher-order formulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.Shingles
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    val both = docs.select(
      col("doc_id"),
      Shingles.wordShingles(col("text"), 3).as("hof"),
      Shingles.wordShinglesNative(col("text"), 3).as("native"))
    assert(both.where(col("hof") =!= col("native")).count() == 0)
    // edge cases: shorter than k, exactly k
    import spark.implicits._
    val edge = Seq("one two", "one two three", "a a a a").toDF("text")
      .select(Shingles.wordShingles(col("text"), 3).as("hof"),
        Shingles.wordShinglesNative(col("text"), 3).as("native"))
      .collect()
    edge.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
  }

  test("decontam covers every train doc, flags exact copies of bench docs") {
    val res = Dedup.decontam(spark, sfDir).collect()
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
    val nBench = docs.where(
      graft.operators.Curation.portableHash(col("doc_id")) % Dedup.DecontamBenchMod === 0)
      .count()
    // partition: train rows + bench rows = corpus
    assert(res.length + nBench == docs.count())
    assert(nBench > 0, "hash bucket selected no bench docs")
    // hit counts are bounded by shingle counts, ratio in [0,1]
    res.foreach { r =>
      val n = r.getAs[Long]("n_shingles"); val h = r.getAs[Long]("n_hits")
      assert(h >= 0 && h <= n)
      val ratio = r.getAs[Double]("hit_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(r.getAs[Boolean]("contaminated") == (h > 0))
    }
    // the corpus has exact duplicate texts (dd_exact groups); any train doc
    // sharing its full text with a bench doc must be 100% contaminated
    val benchTexts = docs.where(
        graft.operators.Curation.portableHash(col("doc_id")) % Dedup.DecontamBenchMod === 0)
      .select("text").collect().map(_.getString(0)).toSet
    val trainFull = docs.where(
        graft.operators.Curation.portableHash(col("doc_id")) % Dedup.DecontamBenchMod =!= 0)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val copied = trainFull.filter { case (_, t) =>
      benchTexts.contains(t) && t.split(" ").length >= Dedup.DecontamShingleK }.map(_._1).toSet
    if (copied.nonEmpty) {
      val flagged = res.filter(r => copied.contains(r.getAs[Long]("doc_id")))
      assert(flagged.forall(r => r.getAs[Double]("hit_ratio") == 1.0))
    }
  }

  test("decontam broadcasts the eval shingle set, never the train corpus") {
    val plan = Dedup.decontam(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.linesIterator.take(12).mkString("\n"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("no crossJoin in any dedup plan") {
    Seq(Dedup.ngramJaccard(spark, sfDir), Dedup.minhashLsh(spark, sfDir),
        Dedup.simhash(spark, sfDir)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(500))
    }
  }

  test("incremental dedup keeps exactly the corpus-new, batch-canonical docs") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def bucket(id: Long) = ((id % 2147483648L) * 2654435761L) % 2147483648L % 10
    val (batch, corpus) = docs.partition { case (id, _) => bucket(id) == 0 }
    val corpusHashes = corpus.map(_._2).toSet
    val firstInBatch = batch.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    val expect = batch.map { case (id, h) =>
      id -> (!corpusHashes.contains(h) && firstInBatch(h) == id)
    }.toMap
    val got = Dedup.incrementalDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == expect)
    assert(got.nonEmpty && got.values.exists(identity))
  }

  test("bloom incremental dedup is exact and actually probes a bloom filter") {
    val out = Dedup.bloomIncrementalDedup(spark, sfDir)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(600))
    val got = out.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // brute-force the set semantics on the driver
    val docs = Tables.table(spark, sfDir, "documents")
      .selectExpr("doc_id", "sha2(text, 256) AS h").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def isBatch(id: Long) =
      ((id % Curation.HashMod) * Curation.HashMult) % Curation.HashMod % 10 == 0
    val corpus = docs.filter(d => !isBatch(d._1)).map(_._2).toSet
    val expect = docs.filter(d => isBatch(d._1))
      .map { case (id, h) => id -> !corpus.contains(h) }.toMap
    assert(got == expect)
    assert(got.nonEmpty && got.values.exists(identity))
    // planted probe: a batch doc whose text duplicates a corpus doc must
    // come back is_new = false through the bloom + verify path
    val (batchId, _) = docs.find(d => isBatch(d._1)).get
    val (corpusId, _) = docs.find(d => !isBatch(d._1)).get
    import spark.implicits._
    val planted = Seq(
      (batchId, "planted dup text"), (corpusId, "planted dup text"))
      .toDF("doc_id", "text")
    val plantedDir = s"/tmp/graft_bloom_planted_${java.util.UUID.randomUUID()}"
    planted.write.mode("overwrite").parquet(s"$plantedDir/documents.parquet")
    val got2 = Dedup.bloomIncrementalDedup(spark, plantedDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got2 == Map(batchId -> false))
  }

  test("span dedup: capped run equals the uncapped exact pair set, keyed plan") {
    val out = Dedup.spanDedup(spark, sfDir)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    val capped = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val uncapped = Dedup.spanDedupCapped(spark, sfDir, Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == uncapped)
    assert(capped.nonEmpty && capped.keys.forall { case (a, b) => a < b })
  }

  test("span dedup correction restores pairs' counts under an aggressive cap") {
    // cap low enough that real spans get banned: counts must still be
    // exact for every pair the capped generator finds
    val exact = Dedup.spanDedupCapped(spark, sfDir, Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lowCap = Dedup.spanDedupCapped(spark, sfDir, 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(lowCap.nonEmpty)
    lowCap.foreach { case (pair, n) => assert(exact(pair) == n) }
  }

  // driver-side mirror of the operator's chunking (same rolling hash)
  private def chunksOf(text: String): Seq[String] = {
    val toks = text.split(" ")
    val b = Seq.newBuilder[Seq[String]]
    var cur = Seq.newBuilder[String]
    toks.zipWithIndex.foreach { case (tok, t) =>
      val cut = t >= Dedup.ChunkGram &&
        graft.functions.RollingHash.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            toks.slice(t - 3, t).mkString(" "))) % Dedup.ChunkMask == 0
      if (cut) { b += cur.result(); cur = Seq.newBuilder[String] }
      cur += tok
    }
    b += cur.result()
    b.result().map(_.mkString(" "))
  }

  test("chunk dedup matches a brute-force chunking recompute") {
    val got = Dedup.chunkDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val texts = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val allChunks = texts.map { case (id, t) => id -> chunksOf(t) }
    val occ = allChunks.flatMap(_._2)
      .groupBy(identity).map { case (c, o) => c -> o.size }
    assert(got.keySet == texts.map(_._1).toSet)
    allChunks.foreach { case (id, cs) =>
      assert(got(id)._1 == cs.length.toLong, s"doc $id n_chunks")
      assert(got(id)._2 == cs.count(occ(_) > 1).toLong, s"doc $id n_dup_chunks")
    }
    // chunking is non-trivial at this scale: some doc has >1 chunk, and
    // some chunk is shared across docs
    assert(allChunks.exists(_._2.length > 1))
    assert(got.values.exists(_._2 > 0))
  }

  test("chunk boundaries re-align after an insertion (the CDC property)") {
    import spark.implicits._
    val base = Tables.table(spark, sfDir, "documents")
      .select("text").where(length(col("text")) > 300)
      .orderBy("doc_id").limit(1).collect()(0).getString(0)
    val shifted = "entirely new preamble sentence goes here . " + base
    val dir = s"/tmp/graft_cdc_chunks_${java.util.UUID.randomUUID()}"
    Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.chunkDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("dup_chunk_ratio")).toMap
    // a fixed-size blocker would share ~nothing after the shift; CDC
    // boundaries re-align within one window, so most chunks dedup
    assert(out(1L) > 0.5, s"base doc ratio ${out(1L)}")
    assert(out(2L) > 0.5, s"shifted doc ratio ${out(2L)}")
  }

  test("cross-source overlap matches a brute-force shingle-set recompute") {
    val got = Dedup.crossOverlap(spark, sfDir).collect()
    assert(got.nonEmpty)
    // brute force: distinct 3-shingle set per source on the driver
    // (500 docs here; the operator itself never materializes these sets)
    val bySource = Tables.table(spark, sfDir, "documents")
      .select(col("source"), col("text")).collect()
      .groupBy(_.getString(0))
      .map { case (s, rows) =>
        s -> rows.flatMap { r =>
          val t = r.getString(1).split(" ")
          if (t.length < 3) Seq.empty
          else t.sliding(3).map(_.mkString(" ")).toSeq
        }.toSet
      }
    val sources = bySource.keys.toSeq.sorted
    // every ordered pair present exactly once with exact counts
    val expectedPairs = for {
      a <- sources; b <- sources if a < b
      if (bySource(a) & bySource(b)).nonEmpty
    } yield (a, b)
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq.sorted ==
      expectedPairs.sorted)
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val inter = (bySource(a) & bySource(b)).size.toLong
      assert(r.getAs[Long]("n_common") == inter, s"($a,$b) n_common")
      assert(r.getAs[Long]("n_a") == bySource(a).size.toLong, s"($a,$b) n_a")
      assert(r.getAs[Long]("n_b") == bySource(b).size.toLong, s"($a,$b) n_b")
      val jac = inter.toDouble / (bySource(a).size + bySource(b).size - inter)
      assert(r.getAs[Double]("jaccard") == jac, s"($a,$b) jaccard")
    }
    // scale shape: no cartesian; per-source totals ride broadcasts
    val plan = Dedup.crossOverlap(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("containment pairs match a brute-force shingle-set recompute") {
    val got = Dedup.containment(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Double]("containment"))).toSeq
    val sets = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val t = r.getString(1).split(" ")
        r.getLong(0) -> (if (t.length < 3) Set.empty[String]
                         else t.sliding(3).map(_.mkString(" ")).toSet)
      }.toMap
    val ids = sets.keys.toSeq.sorted
    val exp = for {
      a <- ids; b <- ids if a < b
      na = sets(a).size.toLong; nb = sets(b).size.toLong
      if math.min(na, nb) >= Dedup.ContainMinShingles
      inter = (sets(a) & sets(b)).size.toLong
      c = inter * 1.0 / math.min(na, nb)
      if c >= Dedup.ContainmentThreshold
    } yield (a, b, na, nb, c)
    assert(got == exp)
    assert(got.nonEmpty, "sf0.001 has planted ≥0.9-containment pairs")
  }

  test("contamination report rolls decontam up by source exactly") {
    val dec = Dedup.decontam(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hits"),
        r.getAs[Boolean]("contaminated")))
    val src = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = dec.groupBy(t => src(t._1)).map { case (s, rows) =>
      s -> (rows.length.toLong, rows.count(_._3).toLong, rows.map(_._2).sum)
    }
    val got = Dedup.contamReport(spark, sfDir).collect()
    assert(got.map(_.getAs[String]("source")).toSet == exp.keySet)
    got.foreach { r =>
      val (n, nc, th) = exp(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_train_docs") == n)
      assert(r.getAs[Long]("n_contaminated") == nc)
      assert(r.getAs[Long]("total_hits") == th)
      assert(r.getAs[Double]("contamination_rate") == nc.toDouble / n.toDouble)
    }
  }

  test("threshold curve: non-increasing suffix, 0.8-decile mass = jaccard pairs") {
    val rows = Dedup.thresholdCurve(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("decile"))
    assert(rows.nonEmpty)
    val atLeast = rows.map(_.getAs[Long]("n_pairs_at_least"))
    atLeast.sliding(2).foreach {
      case Array(a, b) => assert(b <= a); case _ => ()
    }
    // pairs at >= 0.8 per the curve must equal the production op's count
    val prodPairs = Dedup.ngramJaccard(spark, sfDir).count()
    val ge8 = rows.filter(_.getAs[Long]("decile") >= 8L)
      .map(_.getAs[Long]("n_pairs_exact")).sum
    assert(ge8 == prodPairs, "curve must agree with the production cut")
    rows.foreach(r => assert(r.getAs[Double]("jaccard_lo") ==
      r.getAs[Long]("decile").toDouble / 10))
  }

  test("lsh calibration: threshold deciles collide at 1.0; theory column exact") {
    val rows = Dedup.lshCalibration(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val r = Dedup.MinhashPerms / Dedup.MinhashBands
    rows.foreach { row =>
      val d = row.getAs[Long]("decile")
      val emp = row.getAs[Double]("empirical_rate")
      assert(emp >= 0.0 && emp <= 1.0)
      // the standing recall license: every >= threshold pair collides
      if (d >= (Dedup.JaccardThreshold * 10).toLong)
        assert(emp == 1.0, s"decile $d: recall < 1")
      // theoretical column equals the closed form at the midpoint
      val m = math.min(1.0, (d + 0.5) / 10.0)
      var jr = 1.0; (1 to r).foreach(_ => jr *= m)
      var miss = 1.0; (1 to Dedup.MinhashBands).foreach(_ => miss *= (1.0 - jr))
      assert(row.getAs[Double]("theoretical_rate") == 1.0 - miss)
      assert(row.getAs[Long]("n_collide") <= row.getAs[Long]("n_pairs"))
    }
    // decile pair counts agree with the threshold curve's exact counts
    val curve = Dedup.thresholdCurve(spark, sfDir).collect()
      .map(x => x.getAs[Long]("decile") -> x.getAs[Long]("n_pairs_exact")).toMap
    rows.foreach(row => assert(
      row.getAs[Long]("n_pairs") == curve(row.getAs[Long]("decile"))))
  }

  test("df histogram: mass = distinct (doc,shingle) pairs; cap precondition visible") {
    val hist = Dedup.dfHist(spark, sfDir).collect()
      .map(r => r.getAs[Long]("df") -> r.getAs[Long]("n_shingles"))
    assert(hist.nonEmpty)
    // Σ df·n = total (doc, shingle) incidences
    val totalIncidence = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.Shingles.wordShinglesNative(col("text"), 3))
          .as("s")).count()
    assert(hist.map { case (df, n) => df * n }.sum == totalIncidence)
    // the exactness precondition the span/jaccard ops assert is the
    // last row of this table
    assert(hist.map(_._1).max <= Dedup.ShingleDfCap,
      "max df must sit under the candidate-generation cap at test scale")
  }

  test("method report: minhash row equals jaccard row; counts replay the ops") {
    val rows = Dedup.methodReport(spark, sfDir).collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs"))).toMap
    assert(rows.keySet ==
      Set("exact", "ngram_jaccard", "minhash_lsh", "containment"))
    // the banding's recall contract, visible in the dashboard
    assert(rows("minhash_lsh") == rows("ngram_jaccard"))
    val jp = Dedup.ngramJaccard(spark, sfDir).collect()
    assert(rows("ngram_jaccard")._1 == jp.length.toLong)
    assert(rows("ngram_jaccard")._2 ==
      jp.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.length.toLong)
    val ex = Dedup.exact(spark, sfDir).collect()
      .map(_.getAs[Long]("n_copies")).filter(_ >= 2)
    assert(rows("exact")._1 == ex.map(n => n * (n - 1) / 2).sum)
    assert(rows("exact")._2 == ex.sum)
  }

  test("minhash incremental agrees with the exact boundary-pair recompute") {
    import graft.operators.Curation
    val got = Dedup.minhashIncremental(spark, sfDir).collect()
    // one row per batch doc
    val isBatchId = (id: Long) =>
      ((id % Curation.HashMod) * Curation.HashMult) % Curation.HashMod % 10 == 0
    val allDocs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    assert(got.map(_.getLong(0)).toSeq == allDocs.filter(isBatchId).sorted.toSeq)
    // exact recompute: ngramJaccard is all exact near-dup pairs; keep
    // only boundary pairs (one endpoint in the batch, one out)
    val pairs = Dedup.ngramJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    val exp = scala.collection.mutable.Map[Long, List[Double]]()
    pairs.foreach { case (a, b, j) =>
      if (isBatchId(a) && !isBatchId(b)) exp(a) = j :: exp.getOrElse(a, Nil)
      if (isBatchId(b) && !isBatchId(a)) exp(b) = j :: exp.getOrElse(b, Nil)
    }
    got.foreach { r =>
      val id = r.getLong(0)
      val js = exp.getOrElse(id, Nil)
      assert(r.getAs[Long]("n_corpus_matches") == js.length, s"doc $id")
      assert(r.getAs[Boolean]("novel") == js.isEmpty)
      if (js.nonEmpty)
        assert(r.getAs[Double]("max_jaccard") == js.max, s"doc $id max")
    }
    assert(got.exists(!_.getAs[Boolean]("novel")),
      "planted near-dups must cross the batch boundary at this SF")
  }

  test("strip repeats: removed tokens are exactly the repeat-covered ones") {
    val rows = TextAnalysisHelper.stripRows(spark, sfDir)
    rows.foreach { case (id, before, after, frac, cleaned) =>
      assert(after >= 1 && after <= before)
      assert(frac == (before - after).toDouble / before)
      assert(cleaned.split(" ").length.toLong == after)
    }
    // driver replay on a sample of docs (plus a synthetic known-repeat
    // doc below, since this corpus may have no intra-doc trigram repeat)
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).take(20)
    def replay(text: String): String = {
      val toks = text.split(" ")
      val tris = toks.sliding(3).filter(_.length == 3).zipWithIndex
        .map { case (g, i) => (g.mkString(" "), i) }.toSeq
      val firsts = tris.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val covered = tris.collect {
        case (g, i) if i > firsts(g) => Seq(i, i + 1, i + 2)
      }.flatten.toSet
      toks.zipWithIndex.collect {
        case (t, i) if !covered.contains(i) => t
      }.mkString(" ")
    }
    docs.foreach { case (id, text) =>
      assert(rows.find(_._1 == id).get._5 == replay(text), s"doc $id rebuild")
    }
    // synthetic doc with a planted repeat: the op must actually strip
    import spark.implicits._
    val planted = "a b c x y a b c z w a b c"
    val dir2 = java.nio.file.Files.createTempDirectory("strip").toString
    Seq((1L, planted)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val got = graft.operators.TextAnalysis.stripRepeats(spark, dir2).head()
    assert(got.getAs[String]("cleaned_text") == replay(planted))
    assert(got.getAs[Long]("n_tokens_after") <
      got.getAs[Long]("n_tokens_before"), "planted repeats must strip")
  }

  test("persisted simhash signature table load-primes the cache: no corpus re-hashing") {
    val path = java.nio.file.Files.createTempDirectory("graft_shsigs")
      .toString + "/sigs.parquet"
    val before = Dedup.simhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ArtifactCache.save(spark, sfDir, "dd_simhash_sigs", path)
    ArtifactCache.invalidateDir(spark, sfDir)
    ArtifactCache.load(spark, sfDir, "dd_simhash_sigs", path)
    // the primed table serves as a checkpoint scan — the wide-signature
    // token-hash pass over the corpus text never re-runs
    val lanes = Dedup.simhashLanesFor(
      graft.sources.Tables.table(spark, sfDir, "documents").count())
    val plan = Dedup.simhashSigs(spark, sfDir, lanes)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan.take(300))
    assert(!plan.contains("Scan parquet"), "loaded sigs re-hash the corpus")
    // and the consumer reproduces its pre-save result exactly
    val after = Dedup.simhash(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before)
  }

  test("persisted signature index load-primes the cache: no corpus re-signing") {
    val path = java.nio.file.Files.createTempDirectory("graft_mhidx")
      .toString + "/index.parquet"
    val before = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    ArtifactCache.save(spark, sfDir, "dd_minhash_index", path)
    ArtifactCache.invalidateDir(spark, sfDir)
    ArtifactCache.load(spark, sfDir, "dd_minhash_index", path)
    // the primed index serves as a checkpoint scan — the 64-perm
    // signature aggregate over the corpus never re-runs
    val plan = Dedup.minhashBuckets(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan.take(300))
    assert(!plan.contains("Scan parquet"), "loaded index re-signs the corpus")
    // and every consumer reproduces its pre-save result exactly
    val after = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == before)
  }

  test("dup coverage equals a brute-force cross-doc substring scan") {
    val k = Dedup.CoverageK
    val docs = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val gramDocs = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Set[Long]]
    for ((id, t) <- docs; if t.length >= k; p <- 0 to t.length - k)
      gramDocs.getOrElseUpdate(t.substring(p, p + k),
        scala.collection.mutable.Set.empty[Long]) += id
    val expected = docs.map { case (id, t) =>
      val covered = Array.fill(t.length)(false)
      if (t.length >= k)
        for (p <- 0 to t.length - k
             if gramDocs(t.substring(p, p + k)).exists(_ != id);
             q <- p until p + k)
          covered(q) = true
      id -> covered.count(identity).toLong
    }.toMap
    val rows = Dedup.dupCoverage(spark, sfDir).collect()
    val got = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_chars")).toMap
    assert(got == expected)
    // the corpus plants real cross-doc boilerplate AND clean docs, so
    // both branches of the operator are exercised
    assert(expected.values.exists(_ > 0L) && expected.values.exists(_ == 0L))
    assert(rows.forall { r =>
      val ratio = r.getAs[Double]("dup_ratio")
      ratio >= 0.0 && ratio <= 1.0 &&
        r.getAs[Long]("dup_chars") <= r.getAs[Long]("n_chars")
    })
    // the xxhash64-keyed 100 TB twin is output-identical here (no
    // 64-bit collisions at this gram count)
    val hashed = Dedup.dupCoverageHashed(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_chars"))).toMap
    assert(hashed == got)
  }

  test("substring decontam matches a brute-force eval-gram scan") {
    val k = Dedup.CoverageK
    val mod = Dedup.DecontamBenchMod
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        (Curation.portableHash(col("doc_id")) % mod === 0).as("is_bench"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Boolean]("is_bench")))
    val evalGrams = docs.filter(_._3).flatMap { case (_, t, _) =>
      if (t.length >= k) (0 to t.length - k).map(p => t.substring(p, p + k))
      else Seq.empty
    }.toSet
    val expected = docs.filterNot(_._3).map { case (id, t, _) =>
      val covered = Array.fill(t.length)(false)
      if (t.length >= k)
        for (p <- 0 to t.length - k if evalGrams(t.substring(p, p + k));
             q <- p until p + k) covered(q) = true
      id -> covered.count(identity).toLong
    }.toMap
    val rows = Dedup.decontamSubstr(spark, sfDir).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("leak_chars") == expected(id))
      assert(r.getAs[Boolean]("contaminated") == (expected(id) > 0))
    }
    // the planted corpus leaks across the split: both branches exercised
    assert(expected.values.exists(_ > 0L) && expected.values.exists(_ == 0L))
  }

  test("substring decontam broadcast gate: shuffle fallback is output-identical") {
    // the eval split is hash-defined (~2% of the corpus), so its gram
    // count grows with corpus size — past the byte gate the screen must
    // fall back to a shuffled semi-join with IDENTICAL output (string-
    // exact both ways). Force the fallback with a zero budget and pin
    // both the parity and the plan shape.
    val broadcastPath = Dedup.decontamSubstr(spark, sfDir)
    val fallbackPath = Dedup.decontamSubstrImpl(spark, sfDir, 0L)
    val a = broadcastPath.collect().map(_.toSeq).toSeq
    val b = fallbackPath.collect().map(_.toSeq).toSeq
    assert(a == b)
    // gate evidence at the LOGICAL level: past the budget the plan must
    // carry no forced-broadcast hint (AQE may still pick a broadcast at
    // TEST scale from true runtime sizes — that's the point of leaving
    // the decision to it); under the budget the hint must be there
    val bPlan = fallbackPath.queryExecution.optimizedPlan.toString
    assert(!bPlan.contains("strategy=broadcast"),
      "zero budget must not force-broadcast the eval grams")
    val aPlan = broadcastPath.queryExecution.optimizedPlan.toString
    assert(aPlan.contains("strategy=broadcast"),
      "under-budget eval grams must carry the broadcast hint")
  }

  test("admission verdict: parity with every standalone screen") {
    val adm = Dedup.admission(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // exact screens: dd_incremental / dd_bloom
    Dedup.incrementalDedup(spark, sfDir).collect().foreach { r =>
      val a = adm(r.getAs[Long]("doc_id"))
      assert(r.getAs[Boolean]("kept") ==
        (!a.getAs[Boolean]("exact_dup_corpus") &&
          !a.getAs[Boolean]("exact_dup_in_batch")))
    }
    Dedup.bloomIncrementalDedup(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Boolean]("is_new") ==
        !adm(r.getAs[Long]("doc_id")).getAs[Boolean]("exact_dup_corpus"))
    }
    // near screen: dd_minhash_incremental
    Dedup.minhashIncremental(spark, sfDir).collect().foreach { r =>
      val a = adm(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_corpus_matches") == a.getAs[Long]("near_matches"))
      assert(Option(r.getAs[java.lang.Double]("max_jaccard")) ==
        Option(a.getAs[java.lang.Double]("max_jaccard")))
      assert(r.getAs[Boolean]("novel") == (a.getAs[Long]("near_matches") == 0L))
    }
    // substring screen + witnesses: brute-force cross-boundary scan
    val k = Dedup.CoverageK
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        (Curation.portableHash(col("doc_id")) % 10 === 0).as("is_batch"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    def grams(t: String): Seq[String] =
      if (t.length >= k) (0 to t.length - k).map(p => t.substring(p, p + k))
      else Seq.empty
    val corpusWitness = docs.filterNot(_._3)
      .flatMap { case (id, t, _) => grams(t).map(_ -> id) }
      .groupBy(_._1).map { case (g, v) => g -> v.map(_._2).min }
    docs.filter(_._3).foreach { case (id, t, _) =>
      val ws = grams(t).flatMap(corpusWitness.get)
      val a = adm(id)
      assert(a.getAs[Boolean]("substr_hit") == ws.nonEmpty, s"doc $id")
      assert(Option(a.getAs[java.lang.Long]("substr_witness"))
        .map(_.longValue) == (if (ws.isEmpty) None else Some(ws.min)), s"doc $id")
    }
    // semantic screen: brute-force cosine over the aligned embeddings
    // (recall 1.0 license for the LSH-pruned path on THIS split)
    def pHash(id: Long): Long =
      ((id % Curation.HashMod) * Curation.HashMult) % Curation.HashMod
    val embs = Tables.table(spark, sfDir, "embeddings").collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val (bEmb, cEmb) = embs.partition { case (id, _) => pHash(id) % 10 == 0 }
    bEmb.foreach { case (bid, be) =>
      val hits = cEmb.map { case (cid, ce) => (cid, cos(be, ce)) }
        .filter(_._2 >= graft.operators.Similarity.NearDupThreshold)
      val a = adm(bid)
      assert(a.getAs[Long]("sem_matches") == hits.length.toLong, s"doc $bid")
      if (hits.nonEmpty) {
        val best = hits.map(_._2).max
        assert(math.abs(a.getAs[Double]("max_sem_cos") - best) < 1e-9, s"doc $bid")
        assert(a.getAs[Long]("sem_witness") ==
          hits.filter(_._2 == best).map(_._1).min, s"doc $bid")
      } else {
        assert(a.isNullAt(a.fieldIndex("max_sem_cos")), s"doc $bid")
        assert(a.isNullAt(a.fieldIndex("sem_witness")), s"doc $bid")
      }
    }
    // exact witnesses + the composed verdict
    val textToMinCorpus = docs.filterNot(_._3).groupBy(_._2)
      .map { case (t, v) => t -> v.map(_._1).min }
    val firstInBatch = docs.filter(_._3).groupBy(_._2)
      .map { case (t, v) => t -> v.map(_._1).min }
    // URL screen: frontier replay on each doc's own arriving spelling
    val arriving = graft.operators.Url.urlVariants(spark, sfDir)
      .where(col("variant") === (col("doc_id") % graft.operators.Url.UrlVariants))
      .select(col("doc_id"),
        graft.functions.UrlCanon.canonCol(col("url")).as("canon_url"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getAs[String]("canon_url"))))
    val batchIds = docs.filter(_._3).map(_._1).toSet
    val urlFrontier = arriving.collect {
      case (id, Some(c)) if !batchIds(id) => c
    }.toSet
    arriving.filter(t => batchIds(t._1)).foreach { case (id, canon) =>
      val a = adm(id)
      assert(Option(a.getAs[String]("canon_url")) == canon, s"doc $id")
      assert(a.getAs[Boolean]("url_valid") == canon.isDefined, s"doc $id")
      assert(a.getAs[Boolean]("url_known") ==
        canon.exists(urlFrontier.contains), s"doc $id")
    }
    // both url_known outcomes occur (re-crawls AND novel pages)
    assert(adm.values.exists(_.getAs[Boolean]("url_known")))
    assert(adm.values.exists(r => r.getAs[Boolean]("url_valid") &&
      !r.getAs[Boolean]("url_known")))
    docs.filter(_._3).foreach { case (id, t, _) =>
      val a = adm(id)
      assert(Option(a.getAs[java.lang.Long]("exact_witness"))
        .map(_.longValue) == textToMinCorpus.get(t), s"doc $id")
      assert(a.getAs[Long]("first_batch_id") == firstInBatch(t))
      assert(a.getAs[Boolean]("admitted") ==
        (!a.getAs[Boolean]("exact_dup_corpus") &&
          !a.getAs[Boolean]("exact_dup_in_batch") &&
          a.getAs[Long]("near_matches") == 0L &&
          !a.getAs[Boolean]("substr_hit") &&
          a.getAs[Long]("sem_matches") == 0L &&
          !a.getAs[Boolean]("url_known")), s"doc $id")
    }
    // both admitted outcomes occur on this corpus
    val verdicts = adm.values.map(_.getAs[Boolean]("admitted")).toSet
    assert(verdicts == Set(true, false))
  }

  test("dup coverage edge cases: exact-k, sub-k, and split-island docs") {
    import spark.implicits._
    val k = Dedup.CoverageK
    val shared1 = "x" * k                    // a full k-gram, shared
    val shared2 = ("y" * (k / 2) + "z" * k).take(k) // a second shared k-gram
    val gap = ("m" + "n" * 20).padTo(k + 5, 'o')    // > k unique chars
    val docs = Seq(
      (1L, shared1),                          // exactly k, fully covered
      (2L, "abc" + shared1 + "def"),          // shared1 embedded
      (3L, "q" * (k - 1)),                    // sub-k: no grams at all
      (4L, "unique-" + "u" * k),              // ≥ k but globally unique
      (5L, shared2),
      (6L, shared1 + gap + shared2),          // two islands split by a gap
      (7L, "")                                // empty text
    ).toDF("doc_id", "text")
      .withColumn(
        "n_chars",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")).cast("long"))
    val got = Dedup.dupCoverageOf(spark, docs, hashKeys = false).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("dup_chars"), r.getAs[Double]("dup_ratio"))).toMap
    assert(got(1L)._1 == k.toLong)            // fully covered
    assert(got(2L)._1 == k.toLong)            // just the embedded run
    assert(got(3L)._1 == 0L)                  // no grams to share
    assert(got(4L)._1 == 0L)                  // unique content
    assert(got(5L)._1 == k.toLong)
    // doc 6: two disjoint islands, one per shared run — NOT merged
    assert(got(6L)._1 == 2L * k)
    assert(got(7L)._1 == 0L)
    assert(got(1L)._2 == 1.0)
    // the hashed twin agrees on the synthetic corpus too
    val hashed = Dedup.dupCoverageOf(spark, docs, hashKeys = true).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_chars")).toMap
    assert(hashed == got.view.mapValues(_._1).toMap)
  }
}

/** Collects txt_strip_repeats rows once for the spec above. */
object TextAnalysisHelper {
  def stripRows(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Array[(Long, Long, Long, Double, String)] =
    graft.operators.TextAnalysis.stripRepeats(spark, dir).collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens_before"),
        r.getAs[Long]("n_tokens_after"), r.getAs[Double]("removed_fraction"),
        r.getAs[String]("cleaned_text"))
    }
}
