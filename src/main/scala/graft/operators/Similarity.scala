package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.sources.Tables

/** Similarity search over the `embeddings` table.
  *
  * Scale design: the QUERY set is the broadcast side (it is small); the
  * corpus stays partitioned and is scanned once — never broadcast, never
  * crossJoined with itself. The LSH variant prunes the corpus to
  * hyperplane-bucket matches before the exact rerank, which is the
  * 100 TB path (bucket join instead of full scan per query).
  */
object Similarity {

  val TopK = 5
  /** Every 50th vec_id is a query — a small deterministic query set. */
  val QueryModulus = 50
  val NearDupThreshold = 0.45

  /** Deterministic random hyperplanes: `Tables`×`Bits` per table, seeded
    * — java.util.Random's algorithm is specified, so signatures are
    * reproducible everywhere (generated inside [[graft.functions.HyperplaneSigs]]).
    *
    * These are the SMALL-N FLOOR values; the operators derive the actual
    * parameters from the corpus size via [[lshBitsFor]]/[[lshTablesFor]],
    * so bucket population — and with it candidate-pair work — stays
    * ~[[LshTargetBucketPop]] instead of growing linearly with n (which
    * would make the equi-join effectively all-pairs once n ≫ 2^bits). */
  val LshTables = 24
  val LshBits = 3
  val Dim = 64
  val PlaneSeed = 42L

  /** Expected per-(table, signature) bucket population the derived bit
    * width targets: bits ≈ log2(n / target). */
  val LshTargetBucketPop = 64L
  /** Hard per-bucket population cap for candidate generation: buckets
    * above it (hyperplane-degenerate clusters, e.g. near-identical
    * boilerplate vectors) are dropped from the candidate join — the
    * [[Dedup.ShingleDfCap]] discipline. Precision is unaffected (the
    * exact cosine rerank stays), recall semantics: a pair is missed only
    * if EVERY table bucket it shares is overfull; dense true-dup
    * clusters should be collapsed by exact dedup upstream. */
  val LshBucketCap = 16L * LshTargetBucketPop
  /** Collision probability of one hyperplane bit for a pair at exactly
    * [[NearDupThreshold]] cosine: 1 − θ/π. Used to grow the table count
    * with the bit width so threshold-pair recall is preserved. */
  val LshBitCollisionP: Double = 1.0 - math.acos(NearDupThreshold) / math.Pi
  /** Caps keep the derived parameters implementable: 2^28 buckets ≈
    * 268 M (a shuffle key, never materialized); 512 tables bounds the
    * signature-pass fanout. Past the table cap, threshold-pair recall
    * decays gracefully — true near-dups sit well above the threshold
    * (higher per-bit collision probability), so they are retained far
    * longer than the worst-case bound suggests. */
  val LshMaxBits = 28
  val LshMaxTables = 512

  /** Signature bit width for a corpus of n vectors: smallest width whose
    * expected bucket population is ≤ [[LshTargetBucketPop]], floored at
    * the small-n default. ALL-INTEGER (`⌈log₂(n/target)⌉` = smallest b
    * with `target·2^b ≥ n`) — a libm `log` here would make the derived
    * width, and with it every signature, engine-dependent at exact
    * power-of-two populations; the integer form replays in the
    * `ann_topk_lsh` oracle verbatim. */
  def lshBitsFor(n: Long): Int = {
    var b = LshBits
    while (b < LshMaxBits && (LshTargetBucketPop << b) < n) b += 1
    b
  }

  /** Table count preserving threshold-pair recall at a given bit width:
    * each extra bit multiplies the per-table miss odds by 1/p, so tables
    * grow by the same factor (floor [[LshTables]] at [[LshBits]] bits). */
  def lshTablesFor(bits: Int): Int =
    math.min(LshMaxTables, math.ceil(
      LshTables * math.pow(1.0 / LshBitCollisionP, (bits - LshBits).toDouble)).toInt)

  /** Corpus row count, computed once per dir and session (one
    * zero-column count job — parquet answers it from row-group metadata,
    * no value pages read; an [[ArtifactCache]] value): the LSH/IVF
    * parameter derivations need n before plan construction. A process
    * that rewrites a dir in place must call
    * [[ArtifactCache.invalidateDir]] so derived parameters and codebooks
    * refit against the new n. */
  def corpusCount(spark: SparkSession, dir: String): Long =
    ArtifactCache.value(spark, dir, "emb_count")(
      Tables.table(spark, dir, "embeddings").count())

  /** Corpus with the norm precomputed once per row (never per pair). */
  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame = {
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("nrm", VectorFunctions.norm(col("embedding")))
  }

  private def querySet(c: DataFrame): DataFrame =
    c.where(col("vec_id") % QueryModulus === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))

  /** Per-query top-k via the bounded-heap aggregate (partial heaps
    * merge map-side; a window row_number would sort every candidate). */
  private def topKPerQuery(scored: DataFrame): DataFrame = {
    scored.groupBy("query_id")
      .agg(call_function("graft_top_k_by_score",
        col("cosine"), col("neighbor_id"), lit(TopK)).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy("query_id", "rn")
  }

  /** Exact top-k: broadcast the query set over the partitioned corpus,
    * cosine per (corpus row, query), per-query top-k. */
  private[graft] def buildTopKExact(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val q = querySet(c)
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.cosinePrenormed(
          VectorFunctions.dot(col("embedding"), col("q_emb")),
          col("nrm"), col("q_nrm")).as("cosine"))
    topKPerQuery(scored)
  }

  /** LSH bucket signatures: one row per (vec, table) with the table's
    * sign-bit signature. The per-row math is the native codegen
    * [[graft.functions.HyperplaneSigs]] expression (all 24 signatures in
    * one array), exploded by a native generator — no typed row-object
    * map, so the signature pass fuses into the corpus scan's
    * whole-stage-codegen span. */
  private[graft] def signatures(df: DataFrame, idCol: String,
      tables: Int = LshTables, bits: Int = LshBits,
      dim: Int = Dim): DataFrame =
    df.select(col(idCol).cast("long").as(idCol),
        posexplode(graft.functions.HyperplaneSigs.column(
          col("embedding"), tables, bits, dim, PlaneSeed)))
      .select(col(idCol), col("pos").as("tbl"), col("col").as("sig"))

  /** Drop signature rows landing in buckets whose population exceeds
    * `cap` (see [[LshBucketCap]]): the overfull-bucket list is tiny by
    * construction (≤ rows/cap keys), partial-aggregates map-side, and
    * broadcasts into the anti-join. */
  private[graft] def capBuckets(sigs: DataFrame, cap: Long): DataFrame = {
    val mega = sigs.groupBy("tbl", "sig").agg(count(lit(1)).as("pop"))
      .where(col("pop") > cap).select("tbl", "sig")
    sigs.join(broadcast(mega), Seq("tbl", "sig"), "left_anti")
  }

  /** Embedding-space near-dup pairs: hyperplane-LSH candidates
    * (equi-join on (table, signature)), deduped, then exact cosine
    * rerank at the threshold. Bit width / table count derive from the
    * corpus size ([[lshBitsFor]]/[[lshTablesFor]]) and overfull buckets
    * are dropped ([[capBuckets]]), so candidate generation stays
    * ~n·[[LshTargetBucketPop]]·tables at any corpus scale. */
  /** The capped hyperplane signature table for `dir`'s embedding
    * corpus, derived once per session ([[ArtifactCache]]): three
    * queries build the identical table ([[embedNearDup]],
    * [[semanticDecontam]], [[buildTopKLsh]]) and each references it on
    * BOTH sides of its candidate join — uncached, the per-row
    * hyperplane signing re-runs per reference. */
  private[graft] def lshSigs(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "emb_lsh_sigs") {
      val bits = lshBitsFor(corpusCount(spark, dir))
      capBuckets(signatures(corpus(spark, dir), "vec_id",
        lshTablesFor(bits), bits), LshBucketCap)
    }

  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val sigs = lshSigs(spark, dir)
    // probe-side parallelism (r16, the dd_simhash fix): the candidate
    // join broadcasts the b side, so the Σpop² bucket probes run on the
    // a side's partitions — the signature checkpoint's few scan splits.
    // One exchange of the narrow (id, tbl, sig) rows spreads the probe
    // work; keying on a_id alone keeps a vec's every table row in one
    // partition, so multi-table rediscoveries of a pair still collapse
    // in the distinct's map-side partial aggregate.
    val np = spark.sessionState.conf.numShufflePartitions
    val cand = sigs.select(col("vec_id").as("a_id"), col("tbl"), col("sig"))
      .repartition(np, col("a_id"))
      .join(sigs.select(col("vec_id").as("b_id"), col("tbl"), col("sig")),
        Seq("tbl", "sig"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(c.select(col("vec_id").as("a_id"), col("embedding").as("e_a"),
        col("nrm").as("n_a")), "a_id")
      .join(c.select(col("vec_id").as("b_id"), col("embedding").as("e_b"),
        col("nrm").as("n_b")), "b_id")
      .select(col("a_id"), col("b_id"),
        VectorFunctions.cosinePrenormed(
          VectorFunctions.dot(col("e_a"), col("e_b")),
          col("n_a"), col("n_b")).as("cosine"))
      .where(col("cosine") >= NearDupThreshold)
      .orderBy("a_id", "b_id")
  }

  /** `dd_decontam_sem`: semantic (embedding-space) benchmark
    * decontamination — the paraphrase-robust twin of n-gram
    * [[Dedup.decontam]], which misses reworded benchmark leakage by
    * construction. A train doc is contaminated when its embedding sits
    * at ≥ [[NearDupThreshold]] cosine from ANY eval-split doc (the same
    * 1-in-[[Dedup.DecontamBenchMod]] hash bucket as the n-gram
    * operator, applied to vec_id).
    *
    * Scale shape: ONE signature pass over the corpus (the
    * [[embedNearDup]] derived-parameter hyperplane index), split into
    * train/eval sides AFTER signing; candidates come from the keyed
    * (table, signature) equi-join of train sigs against the
    * ~1/50-sized eval sigs — never a corpus self-join — and only
    * candidates pay the exact cosine rerank (precision 1). Output is
    * one row per train doc (hits count, max threshold-passing cosine),
    * so the exact oracle checks the full contract; SimilaritySpec
    * asserts candidate recall 1.0 vs the brute-force train×eval scan
    * at every verified SF (the SURVEY.md §6 oracle rule). */
  def semanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val isEval = Curation.portableHash(col("vec_id")) % Dedup.DecontamBenchMod === 0
    val sigs = lshSigs(spark, dir)
    val evalSigs = sigs.where(isEval)
      .select(col("vec_id").as("eval_id"), col("tbl"), col("sig"))
    val cand = sigs.where(!isEval).join(evalSigs, Seq("tbl", "sig"))
      .select("vec_id", "eval_id").distinct()
    val hits = cand
      .join(c.select(col("vec_id"), col("embedding").as("e_t"), col("nrm").as("n_t")),
        "vec_id")
      .join(c.select(col("vec_id").as("eval_id"), col("embedding").as("e_e"),
        col("nrm").as("n_e")), "eval_id")
      .select(col("vec_id"),
        VectorFunctions.cosinePrenormed(
          VectorFunctions.dot(col("e_t"), col("e_e")),
          col("n_t"), col("n_e")).as("cosine"))
      .where(col("cosine") >= NearDupThreshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"), max(col("cosine")).as("max_cos"))
    c.where(!isEval).select("vec_id")
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        coalesce(col("max_cos"), lit(0.0)).as("max_cos"),
        (coalesce(col("n_eval_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy("vec_id")
  }

  /** LSH-pruned top-k: candidates restricted to bucket matches, then the
    * exact rerank — trades recall for a corpus-pruning equi-join. */
  private[graft] def buildTopKLsh(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val q = querySet(c)
    val cSigs = lshSigs(spark, dir)
    // the query set is a subset of the corpus: reuse its signatures
    // instead of a second scan + signature pass
    val qSigs = cSigs.where(col("vec_id") % QueryModulus === 0)
      .select(col("vec_id").as("query_id"), col("tbl"), col("sig"))
    val cand = cSigs.join(qSigs, Seq("tbl", "sig"))
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    topKPerQuery(cand
      .join(c, "vec_id")
      .join(broadcast(q.select(col("query_id"), col("q_emb"), col("q_nrm"))), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.cosinePrenormed(
          VectorFunctions.dot(col("embedding"), col("q_emb")),
          col("nrm"), col("q_nrm")).as("cosine")))
  }

  /** Small-n floor values; the query path derives the actual cell /
    * probe counts from corpus size via [[ivfCellsFor]]/[[ivfProbesFor]]
    * so per-cell population stays ~[[IvfTargetCellPop]] as n grows —
    * a fixed 16-cell codebook would otherwise make each probed cell a
    * linear fraction of the corpus. */
  val IvfCells = 16
  val IvfProbes = 6
  /** Each corpus vector is indexed under its `IvfAssign` nearest cells
    * (IVF "spilling"/multi-assignment): boundary vectors — whose true
    * neighbors straddle a Voronoi edge — appear in both adjacent cells,
    * which is what lifts recall without probing more of the corpus. */
  val IvfAssign = 2
  /** Quantizer training-sample target: a codebook needs a few thousand
    * vectors (≥ [[IvfTrainPerCell]] per cell), not the corpus — at
    * 100 TB training on the full table (10 k-means iterations × full
    * scans) is the difference between seconds and hours. */
  val IvfTrainTarget = 4096L
  val IvfTrainPerCell = 64L

  /** Target per-cell population the derived cell count maintains. */
  val IvfTargetCellPop = 128L
  /** Codebook must stay a broadcastable in-plan literal (4096 cells ×
    * 64 dims × 8 B = 2 MB); past this the coarse quantizer itself would
    * be sharded (IMI / two-level), out of scope here. */
  val IvfMaxCells = 4096

  /** Cell count for a corpus of n vectors: n / targetPop, floored at the
    * small-n default (≈ the FAISS √n-to-n/256 guidance band). */
  def ivfCellsFor(n: Long): Int =
    math.min(IvfMaxCells.toLong,
      math.max(IvfCells.toLong, n / IvfTargetCellPop)).toInt
  /** Probe count grows with √(cells/floor): on clustered (real) data
    * recall tracks the probed-cell count, not the probed fraction, so
    * probing all-cells-proportionally would forfeit IVF's pruning; √
    * keeps the probed fraction shrinking while the absolute probe
    * breadth still widens with the partition count. */
  def ivfProbesFor(cells: Int): Int =
    math.max(IvfProbes,
      math.ceil(IvfProbes * math.sqrt(cells.toDouble / IvfCells)).toInt)

  /** Deterministic quantizer-training sample: every row whose portable
    * id hash lands in the 1-in-`max(1, n/target)` bucket — replayable
    * arithmetic (the exact rows are a function of vec_id alone), unlike
    * Bernoulli `df.sample`, whose row set depends on Spark's sampler
    * internals and can never be reproduced by an oracle. At 100 TB the
    * quantizer trains on ~`target` rows, never the corpus. */
  private def trainSample(c: DataFrame, n: Long, target: Long): DataFrame = {
    val mod = math.max(1L, n / target)
    c.where(Curation.portableHash(col("vec_id")) % mod === 0)
  }

  /** Fit the IVF coarse quantizer on the deterministic sample and
    * return the codebook — [[Clustering.fit]]'s fixed-point Lloyd
    * (hash-ordered seeds, [[Clustering.KmeansIters]] rounds, decimal
    * centroid means), so the book is a pure arithmetic function of the
    * corpus and the `ann_topk_ivf` oracle can REPLAY the training
    * instead of requiring recall 1.0. Book order = seed vec_id order
    * (what [[Clustering.fit]] returns), so a centroid's ARRAY INDEX —
    * the cell id [[graft.functions.NearestCells]] emits — is
    * deterministic too. The book is fit ONE time per corpus on the
    * sample and reused by every later query (an [[ArtifactCache]]
    * value). Keyed by dir ALONE (one book per corpus, like
    * [[Clustering.kmeansCentroids]]): a book primed by
    * [[ArtifactCache.load]] always wins over a refit, even if its cell
    * count differs from today's derived `ivfCellsFor(n)`, so a
    * persisted book can never be silently ignored. Query paths read
    * the cell count back off the book (`centroids.size`), never off the
    * derivation, keeping probe math consistent with whatever book is in
    * force. */
  def ivfCodebook(spark: SparkSession, dir: String,
      cells: Int = IvfCells): Seq[Seq[Double]] =
    ArtifactCache.value(spark, dir, "ivf_codebook") {
      val c = corpus(spark, dir)
      val n = corpusCount(spark, dir)
      val target = math.max(IvfTrainTarget, IvfTrainPerCell * cells)
      val smp = trainSample(
        c.select(col("vec_id"), col("embedding").as("e")), n, target)
      Clustering.fit(smp, Clustering.seedCentroids(smp, cells))
        .map(_._2)
    }

  /** IVF search: corpus partitioned by nearest-centroid cell, queries
    * probe the `IvfProbes` nearest cells, exact rerank inside the probed
    * cells. The at-scale alternative to hyperplane LSH: one equi-join on
    * cell id instead of a full corpus scan per query. Assignment is the
    * native codegen [[graft.functions.NearestCells]] expression over the
    * cached codebook — the query path only assigns and probes, it never
    * retrains. */
  private[graft] def buildTopKIvf(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val q = querySet(c)
    val centroids = ivfCodebook(spark, dir, ivfCellsFor(corpusCount(spark, dir)))
    // probe count from the book actually in force (a loaded book may
    // predate today's derived cell count)
    val cells = centroids.size

    val cCells = c.select(col("vec_id").cast("long").as("vec_id"),
      explode(graft.functions.NearestCells.column(col("embedding"),
        centroids, IvfAssign)).as("cell"))
    val qCells = q.select(col("query_id").cast("long").as("query_id"),
        explode(graft.functions.NearestCells.column(col("q_emb"),
          centroids, ivfProbesFor(cells))).as("cell"))

    val cand = cCells.join(qCells, "cell")
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    topKPerQuery(cand
      .join(c, "vec_id")
      .join(broadcast(q.select(col("query_id"), col("q_emb"), col("q_nrm"))), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.cosinePrenormed(
          VectorFunctions.dot(col("embedding"), col("q_emb")),
          col("nrm"), col("q_nrm")).as("cosine")))
  }

  // ---- product quantization (PQ) -----------------------------------------

  /** 16 subspaces × 4 dims × 32 codes: near-uniform synthetic
    * embeddings are PQ's hard case (pairwise distances concentrate), so
    * the quantization is finer than the textbook 8×8×16 — still a 16-
    * byte code per 512-byte vector. */
  val PqSubspaces = 16
  val PqSubDim: Int = Dim / PqSubspaces
  val PqCodesK = 32
  /** Candidates per query kept from the compressed-score pass for the
    * exact rerank. */
  val PqRerank: Int = TopK * 8

  /** Train-once PQ codebooks (one [[PqCodesK]]-centroid k-means per
    * [[PqSubDim]]-dim subspace, fit on the deterministic hash sample,
    * cached per corpus dir and session as an [[ArtifactCache]] value —
    * the same persist-don't-refit discipline as [[ivfCodebook]]). Each
    * subspace book comes from the SAME [[Clustering.fit]] fixed-point
    * Lloyd as the IVF coarse book (hash-ordered seeds over the sliced
    * sample, fixed rounds, decimal means), so the `ann_topk_pq` oracle
    * replays all [[PqSubspaces]] trainings arithmetically. */
  def pqCodebooks(spark: SparkSession, dir: String): Seq[Seq[Seq[Double]]] =
    ArtifactCache.value(spark, dir, "pq_codebooks") {
      val c = corpus(spark, dir)
      val n = corpusCount(spark, dir)
      // lineage cut: 16 subspace fits × 2 rounds each re-read this frame
      val smp = trainSample(
        c.select(col("vec_id"), col("embedding")), n, IvfTrainTarget)
        .localCheckpoint(true)
      // the 16 subspace fits are independent chains of tiny jobs —
      // submit them concurrently (Spark's scheduler interleaves jobs
      // from multiple threads) instead of paying 16 × per-job latency
      // sequentially, on a pool of this training's own (see RunPool);
      // results are positionally ordered, so the books are
      // byte-identical to the sequential build
      val pool = new graft.RunPool(
        math.min(PqSubspaces, Runtime.getRuntime.availableProcessors()), "graft-pq")
      try pool.all(0 until PqSubspaces) { m =>
        val sub = smp.select(col("vec_id"),
          slice(col("embedding"), m * PqSubDim + 1, PqSubDim).as("e"))
        Clustering.fit(sub, Clustering.seedCentroids(sub, PqCodesK))
          .map(_._2)
      } finally pool.close()
    }

  /** PQ ANN: each corpus vector is compressed to its per-subspace
    * nearest sub-centroid indices (the 8-byte code that would be STORED
    * at 100 TB — 64× smaller than the raw doubles) and decoded back
    * through the in-plan codebook literals; the compressed-domain cosine
    * prunes the corpus to [[PqRerank]] candidates per query
    * (bounded-heap, map-side partial), exact rerank on the raw vectors
    * after. Encode and decode are native expressions
    * ([[graft.functions.NearestCells]] + `element_at` on a foldable
    * literal), so the compress-reconstruct-score pass fuses into the
    * corpus scan's codegen span. */
  private[graft] def buildTopKPq(spark: SparkSession, dir: String): DataFrame = {
    val books = pqCodebooks(spark, dir)
    val recon = concat((0 until PqSubspaces).map { m =>
      val code = element_at(graft.functions.NearestCells.column(
        slice(col("embedding"), m * PqSubDim + 1, PqSubDim), books(m), 1), 1)
      element_at(typedLit(books(m)), code + 1)
    }: _*)
    val c = corpus(spark, dir)
    val q = querySet(c)
    val approx = c.withColumn("recon", recon)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (VectorFunctions.dot(col("recon"), col("q_emb"))
          / (VectorFunctions.norm(col("recon")) * col("q_nrm"))).as("approx"))
    val cand = approx.groupBy("query_id")
      .agg(call_function("graft_top_k_by_score",
        col("approx"), col("vec_id"), lit(PqRerank)).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("t"))
      .select(col("query_id"), col("t.id").as("vec_id"))
    topKPerQuery(cand
      .join(c, "vec_id")
      .join(broadcast(q.select(col("query_id"), col("q_emb"), col("q_nrm"))),
        "query_id")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.cosinePrenormed(
          VectorFunctions.dot(col("embedding"), col("q_emb")),
          col("nrm"), col("q_nrm")).as("cosine")))
  }

  // ---- cached top-k artifacts --------------------------------------------

  /** Session-cached top-k RESULT table per (corpus dir, method) — the
    * [[ArtifactCache]] train-once contract applied to search results:
    * each of exact/LSH/IVF/PQ derives its |queries|·k-row table ONCE
    * per corpus per session, and every consumer — the `ann_topk_*`
    * queries, [[annRecallReport]] (which reads all four),
    * [[retrievalMetrics]] — reads the materialized rows. At 100 TB the
    * top-k tables of a standing evaluation query set are artifacts
    * persisted next to the index they grade, not recomputed per
    * report. The cache holds the UNORDERED result; the deterministic
    * (query_id, rn) sort is re-applied per read (metadata-sized). */
  private def cachedTopK(spark: SparkSession, dir: String, method: String,
      build: (SparkSession, String) => DataFrame): DataFrame =
    ArtifactCache.of(spark, dir, s"ann_topk_$method")(build(spark, dir))
      .orderBy("query_id", "rn")

  def annTopKExact(spark: SparkSession, dir: String): DataFrame =
    cachedTopK(spark, dir, "exact", buildTopKExact)

  def annTopKLsh(spark: SparkSession, dir: String): DataFrame =
    cachedTopK(spark, dir, "lsh", buildTopKLsh)

  def annTopKIvf(spark: SparkSession, dir: String): DataFrame =
    cachedTopK(spark, dir, "ivf", buildTopKIvf)

  def annTopKPq(spark: SparkSession, dir: String): DataFrame =
    cachedTopK(spark, dir, "pq", buildTopKPq)

  /** `emb_hard_negatives`: contrastive hard-negative mining — for each
    * query vector, the [[TopK]] most cosine-similar vectors carrying a
    * DIFFERENT label (the "confusable but wrong" examples contrastive
    * and metric-learning recipes train against; similar same-label
    * vectors are positives, not negatives, hence the label filter).
    *
    * Scale shape: identical to [[annTopKExact]] — the query set is the
    * broadcast side, the corpus is scanned once partitioned, per-query
    * top-k via the bounded-heap aggregate (map-side partials; no window
    * over all candidates). The label inequality rides the broadcast-join
    * condition, so mismatched pairs are dropped before any shuffle. At
    * 100 TB the corpus-pruning variants (IVF cells / LSH buckets, probe
    * then label-filter) slot in exactly as they do for top-k search. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("embedding"))
      .withColumn("nrm", VectorFunctions.norm(col("embedding")))
    val q = c.where(col("vec_id") % QueryModulus === 0)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = c.join(broadcast(q), col("label") =!= col("q_label"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.cosinePrenormed(
          VectorFunctions.dot(col("embedding"), col("q_emb")),
          col("nrm"), col("q_nrm")).as("cosine"))
    topKPerQuery(scored)
  }

  /** Fixed-point scale for centroid sums: embeddings are unit-ish floats,
    * so 1e-6 keeps six decimals while the DECIMAL(28,0) running sum stays
    * exact and order-independent at any row count. */
  val CentroidScale = 1000000L

  /** Per-label embedding centroids in long form `(label, dim, n_vecs,
    * centroid)` — the class-prototype/cluster-profile primitive (seed
    * vectors for IVF, per-domain drift monitoring, label prototypes).
    *
    * Scale shape: posexplode to `(label, dim, value)` and one partial
    * aggregate — 64× row expansion map-side, but the shuffle carries only
    * `labels × dims` groups. The per-dimension sum is fixed-point decimal
    * ([[graft.operators.Gold.moneySum]] discipline), so the centroid is
    * bit-identical under any partitioning or cluster size. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum(floor(col("v").cast("double") * lit(CentroidScale.toDouble))
          .cast(org.apache.spark.sql.types.DecimalType(28, 0))).as("s"))
      .select(col("label"), col("dim").cast("int").as("dim"), col("n_vecs"),
        (col("s").cast("double") / lit(CentroidScale.toDouble) / col("n_vecs"))
          .as("centroid"))
      .orderBy("label", "dim")

  /** `emb_silhouette`: per-label mean silhouette against label
    * centroids — s = (b − a) / max(a, b) with a = distance to the own
    * label's centroid, b = the nearest OTHER label centroid; the
    * one-table answer to "are these labels actually separated in
    * embedding space?", read with [[labelConfusion]] (which counts
    * boundary violations; this measures margin).
    *
    * Scale shape: centroids are [[labelCentroids]]' fixed-point
    * aggregate collected as label-catalog × dim METADATA (the codebook
    * precedent) and re-entered as in-plan literals, so the per-vector
    * pass is L native dot products in ONE codegen projection — no
    * join, no shuffle; the rollup is a label-catalog-sized aggregate.
    * Distances use d² = ⟨x,x⟩ + ⟨c,c⟩ − 2⟨x,c⟩ with every dot product
    * an engine-evaluated sequential accumulation (the
    * `list_dot_product` parity contract of [[hardNegatives]]), and the
    * mean silhouette crosses engines through the fixed-point
    * [[CentroidScale]] path. */
  def labelSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val cent = labelCentroids(spark, dir)
      .select("label", "dim", "centroid").collect()
      .groupBy(_.getInt(0)).map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    val labels = cent.keys.toSeq.sorted
    require(labels.size >= 2, "silhouette needs at least two labels")
    val c = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("xx", VectorFunctions.dot(col("e"), col("e")))
    def distTo(l: Int): org.apache.spark.sql.Column = {
      val arr = array(cent(l).map(lit).toSeq: _*)
      sqrt(greatest(
        col("xx") + VectorFunctions.dot(arr, arr) -
          lit(2.0) * VectorFunctions.dot(col("e"), arr),
        lit(0.0)))
    }
    val a = labels.tail
      .foldLeft(when(col("label") === labels.head, distTo(labels.head))) {
        (acc, l) => acc.when(col("label") === l, distTo(l))
      }
    val b = least(labels.map(l =>
      when(col("label") =!= l, distTo(l))): _*)
    val sil = when(greatest(col("a"), col("b")) > 0,
      (col("b") - col("a")) / greatest(col("a"), col("b")))
      .otherwise(lit(0.0))
    c.withColumn("a", a).withColumn("b", b)
      .select(col("label"), sil.as("sil"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        (sum(floor(col("sil") * lit(CentroidScale.toDouble))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).cast("double")
          / lit(CentroidScale.toDouble) / count(lit(1)))
          .as("mean_silhouette"))
      .orderBy("label")
  }

  /** Fixed-point scale for NDCG gain weights (1/log2(rank+1) floored
    * to integers so per-query DCG sums are EXACT integer adds in both
    * engines — double addition order never enters). */
  val NdcgScale = 1000000000L

  /** w(rank) = floor(NdcgScale / log2(rank+1)); the constants embed as
    * literals in BOTH the Spark plan and the oracle SQL, so the only
    * transcendental is evaluated once, on the driver. */
  private[graft] val ndcgWeights: IndexedSeq[Long] =
    (1 to TopK).map(i =>
      math.floor(NdcgScale.toDouble / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** Cumulative ideal gains: idcg(m) for m relevant docs in the top-k. */
  private[graft] val ndcgIdeal: IndexedSeq[Long] =
    ndcgWeights.scanLeft(0L)(_ + _)

  /** `emb_retrieval_metrics`: retrieval-quality scorecard per query —
    * MRR, precision@k and NDCG@k of [[annTopKExact]]'s top-k under
    * same-label relevance (the embedding benchmark's standard proxy:
    * a neighbor is relevant iff it shares the query's label). The
    * eval harness a retrieval/RAG stack runs after every embedding or
    * index change; [[annRecallReport]] scores the INDEX against exact
    * search, this scores exact search against the labels.
    *
    * Scale shape: the top-k table is bounded (queries × k); label
    * lookups are two keyed joins against the (vec_id, label)
    * projection; per-label corpus totals broadcast back for the ideal
    * DCG. All gains are fixed-point integer literals ([[ndcgWeights]])
    * so every per-query sum is exact; each output metric is one IEEE
    * division. */
  def retrievalMetrics(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"))
    val labelSizes = labels.groupBy("label").agg(count(lit(1)).as("n_label"))
    val wCase = (1 to TopK).foldLeft(lit(0L)) { (acc, i) =>
      when(col("rn") === i, lit(ndcgWeights(i - 1))).otherwise(acc)
    }
    val perQ = annTopKExact(spark, dir)
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .select(col("query_id"), col("q_label"), col("rn"),
        (col("q_label") === col("n_label")).cast("long").as("rel"))
      .groupBy("query_id", "q_label")
      .agg(sum(col("rel")).as("n_rel_at_k"),
        min(when(col("rel") === 1L, col("rn"))).as("first_rel_rank"),
        sum(col("rel") * wCase).as("dcg_i"))
    val mCol = least(lit(TopK), col("n_label") - 1)
    val idcgCase = (0 to TopK).foldLeft(lit(0L)) { (acc, m) =>
      when(mCol === m, lit(ndcgIdeal(m))).otherwise(acc)
    }
    perQ
      .join(broadcast(labelSizes.select(col("label").as("q_label"),
        col("n_label"))), Seq("q_label"))
      .withColumn("idcg_i", idcgCase)
      .select(col("query_id"), col("n_rel_at_k"),
        when(col("first_rel_rank").isNull, lit(0.0))
          .otherwise(lit(1.0) / col("first_rel_rank").cast("double")).as("mrr"),
        (col("n_rel_at_k").cast("double") / lit(TopK).cast("double"))
          .as("precision_at_k"),
        when(col("idcg_i") > 0,
          col("dcg_i").cast("double") / col("idcg_i").cast("double"))
          .otherwise(lit(0.0)).as("ndcg_at_k"))
      .orderBy("query_id")
  }

  /** MMR candidate-pool size and final selection size. */
  val MmrPool = 20
  val MmrK = 5
  /** Relevance/diversity blend: score = λ·sim(q,d) − (1−λ)·max sim(d,S). */
  val MmrLambda = 0.5

  /** `emb_mmr_rerank`: maximal-marginal-relevance rerank of each
    * query's top-[[MmrPool]] cosine candidates down to [[MmrK]]
    * diverse results — the standard retrieval de-duplication step
    * between ANN and a RAG prompt (plain top-k returns five copies of
    * the same boilerplate; MMR trades relevance against similarity to
    * the already-selected set).
    *
    * Scale shape: candidate generation is the broadcast-query scored
    * scan + bounded-heap top-[[MmrPool]] of [[annTopKExact]]; the
    * greedy rerank runs per QUERY GROUP in `mapGroups` with state
    * bounded by pool×dim CONSTANTS (pool² dot products per query —
    * never corpus-sized). Deterministic: candidates sorted
    * (cosine DESC, id), argmax ties break by (score DESC, id ASC) —
    * which is why [[mmrRerankSql]] can unroll the K selection rounds
    * and hash-match the greedy exactly; the spec additionally replays
    * the recursion on the driver. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, dir)
    val q = querySet(c)
    val pool = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.cosinePrenormed(
          VectorFunctions.dot(col("embedding"), col("q_emb")),
          col("nrm"), col("q_nrm")).as("cosine"))
      .groupBy("query_id")
      .agg(call_function("graft_top_k_by_score",
        col("cosine"), col("neighbor_id"), lit(MmrPool)).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("cand"))
      .select(col("query_id"), col("cand.id").as("neighbor_id"),
        col("cand.score").as("cosine"))
    pool
      .join(c.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("nrm")), Seq("neighbor_id"))
      .as[(Long, Long, Double, Seq[Double], Double)]
      .groupByKey(_._2)
      .mapGroups { (qid, it) =>
        val cands = it.toArray.map { case (nid, _, cos, emb, nrm) =>
          (nid, cos, emb.toArray, nrm)
        }.sortBy { case (nid, cos, _, _) => (-cos, nid) }
        def sim(a: (Long, Double, Array[Double], Double),
            b: (Long, Double, Array[Double], Double)): Double = {
          var s = 0.0; var i = 0
          while (i < a._3.length) { s += a._3(i) * b._3(i); i += 1 }
          s / (a._4 * b._4)
        }
        val selected = scala.collection.mutable.ArrayBuffer[Int]()
        while (selected.length < math.min(MmrK, cands.length)) {
          var bestIdx = -1; var bestScore = Double.NegativeInfinity
          cands.indices.foreach { i =>
            if (!selected.contains(i)) {
              val maxSel = if (selected.isEmpty) 0.0
                else selected.map(j => sim(cands(i), cands(j))).max
              val s = MmrLambda * cands(i)._2 - (1.0 - MmrLambda) * maxSel
              if (s > bestScore ||
                  (s == bestScore && bestIdx >= 0 &&
                    cands(i)._1 < cands(bestIdx)._1)) {
                bestIdx = i; bestScore = s
              }
            }
          }
          selected += bestIdx
        }
        (qid, selected.toSeq.zipWithIndex.map { case (i, r) =>
          (r + 1, cands(i)._1, cands(i)._2)
        })
      }
      .flatMap { case (qid, sel) =>
        sel.map { case (r, nid, cos) => (qid, r, nid, cos) }
      }
      .toDF("query_id", "mmr_rank", "neighbor_id", "cosine")
      .orderBy("query_id", "mmr_rank")
  }

  /** `emb_dim_stats`: per-dimension mean and variance of the corpus —
    * the embedding drift monitor (a re-embedded corpus whose dimension
    * profile moves has a model/version skew; also the input to
    * whitening and scalar-quantization grid design). Moments accumulate
    * through the fixed-point decimal path (Σx and Σx² exact and
    * order-independent), variance is the two-pass-free E[x²]−E[x]²
    * with each term a single IEEE op — bit-identical cross-engine.
    * One posexplode + one partial-aggregated groupBy of dims groups. */
  def dimStats(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "embeddings")
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v") * lit(CentroidScale.toDouble))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sx"),
        sum(floor((col("v") * col("v")) * lit(CentroidScale.toDouble))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sxx"))
      .select(col("dim").cast("int").as("dim"), col("n"),
        (col("sx").cast("double") / lit(CentroidScale.toDouble) / col("n"))
          .as("mean"),
        (col("sxx").cast("double") / lit(CentroidScale.toDouble) / col("n") -
          (col("sx").cast("double") / lit(CentroidScale.toDouble) / col("n")) *
          (col("sx").cast("double") / lit(CentroidScale.toDouble) / col("n")))
          .as("variance"))
      .orderBy("dim")

  /** Two-sample z bar for [[embDrift]]. */
  val DriftZ = 3.0

  /** `emb_drift`: per-dimension two-cohort drift monitor — the corpus
    * splits into two deterministic hash cohorts (standing in for
    * old-batch/new-batch in a feed; the split key would be the batch
    * column in production) and each dimension's means are compared by
    * a two-sample z-test. The encoder-regression alarm: a silently
    * upgraded embedding model shifts dimension means long before any
    * downstream metric moves; read next to [[dimStats]]' single-cohort
    * profile.
    *
    * Scale shape: ONE posexplode pass with a (cohort × dim)-keyed
    * partial aggregate (2·dim groups); the cohort pivot is a join of
    * two dim-sized METADATA tables. Sums are fixed-point DECIMAL
    * (exact, order-independent); mean/variance/z are the [[dimStats]]
    * expression shapes — identical IEEE ops cross-engine (√ is
    * correctly rounded in both). */
  def embDrift(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val stats = Tables.table(spark, dir, "embeddings")
      .select(
        (graft.operators.Curation.portableHash(col("vec_id")) % 2 === 0)
          .as("coh_a"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .groupBy("coh_a", "dim")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v") * lit(CentroidScale.toDouble)).cast(dec)).as("sx"),
        sum(floor((col("v") * col("v")) * lit(CentroidScale.toDouble))
          .cast(dec)).as("sxx"))
    def mean(sx: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sx.cast("double") / lit(CentroidScale.toDouble) / n
    def vari(sxx: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sxx.cast("double") / lit(CentroidScale.toDouble) / n -
        mean(sx, n) * mean(sx, n)
    val a = stats.where(col("coh_a")).select(col("dim"),
      col("n").as("n_a"), col("sx").as("sx_a"), col("sxx").as("sxx_a"))
    val b = stats.where(!col("coh_a")).select(col("dim"),
      col("n").as("n_b"), col("sx").as("sx_b"), col("sxx").as("sxx_b"))
    a.join(b, "dim")
      .select(col("dim").cast("int").as("dim"), col("n_a"), col("n_b"),
        mean(col("sx_a"), col("n_a")).as("mean_a"),
        mean(col("sx_b"), col("n_b")).as("mean_b"),
        vari(col("sxx_a"), col("sx_a"), col("n_a")).as("var_a"),
        vari(col("sxx_b"), col("sx_b"), col("n_b")).as("var_b"))
      .withColumn("mean_shift", abs(col("mean_a") - col("mean_b")))
      .withColumn("z", col("mean_shift") /
        sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
      .withColumn("drift", col("z") > DriftZ)
      .orderBy("dim")
  }

  /** Outlier flag threshold: a vector is an outlier when its squared
    * distance to its label centroid exceeds this multiple of the
    * label's MEAN squared distance — self-calibrating per label, no
    * absolute distance scale assumed. High-dimensional distances
    * concentrate hard (χ²₆₄: ±~18%/√n_per_label spread; the synthetic
    * corpus spans ratio 0.91–1.11), so the flag sits just outside the
    * concentration band; real mislabeled vectors land far above it. */
  val OutlierRatio = 1.05

  /** `emb_outliers`: distance-to-centroid pruning — flag embeddings far
    * from their label's centroid (mislabeled/noisy vectors; the cheap
    * first-pass filter before contrastive training or clustering).
    *
    * Determinism: per-dim residuals are single IEEE ops against the
    * fixed-point-exact centroids of [[labelCentroids]]; both the
    * per-vector distance² and the per-label mean accumulate through the
    * fixed-point decimal path, and the flag is one multiply + compare.
    *
    * Scale shape: centroids are labels×dims rows — broadcast; the
    * corpus explodes map-side and partial-aggregates per vec_id; the
    * per-label means are #labels rows broadcast back. Two corpus-sized
    * shuffles max (vec agg + output sort), nothing quadratic. */
  /** Per-vector fixed-point squared distance to the label centroid:
    * `(vec_id, label, s)` where `s` = Σ FLOOR(t²·scale) as
    * DECIMAL(38,0) — exact, order-independent, shared by
    * [[embOutliers]] and [[centroidDistHist]]. */
  private def centroidDist2I(spark: SparkSession, dir: String): DataFrame = {
    val cent = labelCentroids(spark, dir).select("label", "dim", "centroid")
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .join(broadcast(cent), Seq("label", "dim"))
      .select(col("vec_id"), col("label"),
        ((col("v") - col("centroid")) * (col("v") - col("centroid"))).as("t2"))
      .groupBy("vec_id", "label")
      .agg(sum(floor(col("t2") * lit(CentroidScale.toDouble))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
  }

  def embOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d2 = centroidDist2I(spark, dir)
      .select(col("vec_id"), col("label"),
        (col("s").cast("double") / lit(CentroidScale.toDouble)).as("dist2"))
    val means = d2.groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("dist2") * lit(CentroidScale.toDouble))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("ms"))
      .select(col("label"),
        (col("ms").cast("double") / lit(CentroidScale.toDouble) / col("n"))
          .as("mean_d2"))
    d2.join(broadcast(means), "label")
      .select(col("vec_id"), col("label"), col("dist2"),
        (col("dist2") > lit(OutlierRatio) * col("mean_d2")).as("is_outlier"))
      .orderBy("vec_id")
  }

  /** `ann_recall_report`: index-quality evaluation — recall@k of each
    * approximate ANN method (LSH / IVF / PQ) against the exact top-k,
    * per method: query count, mean and worst per-query recall, and the
    * count of perfectly-served queries. The ops gate run after (re)
    * building an index and before routing traffic to it — the
    * continuous-monitoring twin of the one-off recall assertions in
    * CI. Oracled since every approximate input is itself replayable:
    * [[annRecallReportSql]] composes the exact scan and all three
    * index replays; the spec additionally pins it to the brute-force
    * recalls.
    *
    * Scale shape: every side is a top-k RESULT (|queries|·k rows —
    * metadata, not corpus); the hit join is keyed on (query, neighbor)
    * pairs of those small tables and the rollup is a ≤3-row aggregate.
    * Recall fractions are exact integer counts divided once. */
  def annRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val exact = annTopKExact(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val methods = Seq(
      "lsh" -> annTopKLsh(spark, dir),
      "ivf" -> annTopKIvf(spark, dir),
      "pq"  -> annTopKPq(spark, dir))
    methods.map { case (name, approx) =>
      val hits = exact.join(
          approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("found"))
      hits.agg(
          lit(name).as("method"),
          count(lit(1)).as("n_queries"),
          (sum(col("found")).cast("double") / sum(col("k")).cast("double"))
            .as("mean_recall"),
          min(col("found").cast("double") / col("k").cast("double"))
            .as("min_recall"),
          sum(when(col("found") === col("k"), 1L).otherwise(0L))
            .as("n_perfect"))
    }.reduce(_ unionAll _).orderBy("method")
  }

  /** `emb_label_confusion`: label-noise audit — for every vector, is
    * the NEAREST label centroid its own label? The confusion matrix
    * (label × nearest-centroid label, counts) localizes systematic
    * mislabeling and adjacent-class bleed without training any
    * classifier — the curation gate before label-conditioned sampling
    * trusts the label column.
    *
    * Scale shape: the centroid relation is k·dim rows (metadata,
    * broadcast); candidate distances accumulate as fixed-point DECIMAL
    * sums in a partial-aggregating groupBy keyed (vec, candidate) —
    * n·k rows through the shuffle, exact and order-independent; the
    * argmin is an integer-exact `min(struct(dist, label))` per vector
    * (ties to the smaller label id), and the matrix rollup is k²
    * metadata. At mega-label cardinality the candidate set would come
    * from [[graft.functions.NearestCells]] pruning instead of all-k —
    * same contract, k is the label catalog here. */
  def labelConfusion(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cent = labelCentroids(spark, dir)
      .select(col("label").as("cand"), col("dim"), col("centroid"))
    val dists = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "v")))
      .join(broadcast(cent), Seq("dim"))
      .select(col("vec_id"), col("label"), col("cand"),
        ((col("v") - col("centroid")) * (col("v") - col("centroid"))).as("t2"))
      .groupBy("vec_id", "label", "cand")
      .agg(sum(floor(col("t2") * lit(CentroidScale.toDouble)).cast(dec)).as("s"))
    dists.groupBy("vec_id", "label")
      .agg(min(struct(col("s"), col("cand"))).as("b"))
      .select(col("label"), col("b.cand").as("nearest_label"))
      .groupBy("label", "nearest_label")
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("label", "nearest_label")
  }

  /** Histogram bucket width for [[centroidDistHist]], in fixed-point
    * [[CentroidScale]] units: 50000/1e6 = 0.05 of squared distance. */
  val DistHistBucketI = 50000L

  /** `emb_sim_hist`: per-label histogram of squared distance to the
    * label centroid — the distribution view that PICKS the thresholds
    * the point ops consume (where to cut [[embOutliers]]' ratio, what
    * cosine bar [[Similarity]] near-dup should use): a bimodal label
    * is two clusters, a long tail is label noise.
    *
    * Scale shape: reuses [[centroidDist2I]] (one corpus pass, exact
    * DECIMAL sums), then buckets the INTEGER fixed-point distance with
    * pure integer division — no doubles anywhere near the bucket
    * boundary, so the histogram is bit-identical in any engine — and
    * rolls up per (label, bucket): output is histogram-sized
    * metadata. */
  def centroidDistHist(spark: SparkSession, dir: String): DataFrame =
    centroidDist2I(spark, dir)
      .select(col("label"),
        expr(s"CAST(s AS BIGINT) DIV $DistHistBucketI").as("bucket"))
      .groupBy("label", "bucket")
      .agg(count(lit(1)).as("n_vecs"))
      .withColumn("d2_lo",
        (col("bucket") * DistHistBucketI).cast("double") / CentroidScale.toDouble)
      .select("label", "bucket", "d2_lo", "n_vecs")
      .orderBy("label", "bucket")

  /** Unit-normalize every embedding (the preprocessing step that turns
    * cosine search into dot-product search). The kernel is the native
    * codegen [[graft.functions.ArrayScale]] — per-row, no shuffle. The
    * query surface is the long form `(vec_id, dim, nrm, u)` so the
    * oracle can exact-compare scalars; library callers use the array
    * from `normalizedEmbeddings` directly. */
  def normalizedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    corpus(spark, dir)
      .select(col("vec_id"), col("nrm"),
        graft.functions.ArrayScale.column(col("embedding"), col("nrm")).as("unit"))
  }

  def embNorm(spark: SparkSession, dir: String): DataFrame =
    normalizedEmbeddings(spark, dir)
      .select(col("vec_id"), col("nrm"), posexplode(col("unit")).as(Seq("dim", "u")))
      .select(col("vec_id"), col("dim").cast("int").as("dim"), col("nrm"), col("u"))
      .orderBy("vec_id", "dim")

  /** `emb_quantize`: int8 scalar quantization of every embedding — a
    * per-vector affine grid over [min, max] with 256 levels, emitted as
    * (vec_id, dim, code, err) with the EXACT dequantization error. The
    * 100 TB purpose: 4× the vectors per executor-GB for coarse ANN
    * stages (PQ covers the sub-byte regime). Pure per-row codegen
    * arithmetic — builtin cast/array_min/array_max/posexplode, no
    * shuffle except the contract's output sort. Determinism: float→
    * double casts are exact and every op is correctly-rounded IEEE
    * (+,-,*,/, FLOOR — the repo's no-transcendentals rule), so the
    * DuckDB oracle matches bit for bit. */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    e.select(col("vec_id"),
        array_min(col("e")).as("mn"),
        ((array_max(col("e")) - array_min(col("e"))) / lit(255.0)).as("scale"),
        posexplode(col("e")).as(Seq("dim", "x")))
      .withColumn("code",
        when(col("scale") > 0,
          floor((col("x") - col("mn")) / col("scale") + lit(0.5)))
          .otherwise(lit(0L)).cast("int"))
      .withColumn("err",
        abs(col("x") - (col("mn") + col("code") * col("scale"))))
      .select("vec_id", "dim", "code", "err")
      .orderBy("vec_id", "dim")
  }

  // ---- cosine range (radius) search --------------------------------------

  /** Minimum cosine for [[annRange]] membership — picked against the
    * synthetic corpus so the result is non-trivial and grows with n
    * (13 / 24 / 163 pairs at sf0.001 / 0.01 / 0.1). */
  val RangeThreshold = 0.35

  /** `ann_range`: radius search — ALL corpus neighbors within
    * [[RangeThreshold]] cosine of each query vector. The dual of top-k
    * (recall-complete rather than rank-truncated: dedup triage and
    * retrieval-eval sweeps need "everything above τ", not "the best 5").
    *
    * Scale shape: identical to [[annTopKExact]] — the query set rides a
    * broadcast over ONE partitioned corpus scan (n·|Q| codegen dot
    * products, no shuffle at all: the threshold filter is map-side and
    * the output needs no per-query aggregate, unlike top-k's heap).
    * For corpus-scale query sets the [[signatures]] bucket machinery
    * composes exactly as in [[annTopKLsh]] — at τ=0.35 the hyperplane
    * collision probability per bit is 1−θ/π ≈ 0.61, so banded
    * signatures retain threshold pairs; [[embedNearDup]] IS that plan
    * shape at a higher τ. */
  def annRange(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val q = querySet(c)
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        VectorFunctions.cosinePrenormed(
          VectorFunctions.dot(col("embedding"), col("q_emb")),
          col("nrm"), col("q_nrm")).as("cosine"))
      .where(col("cosine") >= lit(RangeThreshold))
      .orderBy("query_id", "neighbor_id")
  }

  // ---- Gram matrix + PCA projection --------------------------------------

  /** `emb_gram`: upper-triangle Gram (uncentered second-moment) matrix
    * of the embedding corpus — Σ xᵢxⱼ per dimension pair, the one-pass
    * sufficient statistic for PCA / whitening / subspace drift
    * ([[pcaProject]] power-iterates the collected d×d matrix).
    *
    * Scale shape: the d(d+1)/2 pair expansion happens MAP-SIDE (two
    * chained posexplode generators inside the scan stage); the only
    * shuffle is the partial-aggregated groupBy onto 2,080 groups —
    * METADATA-sized at any corpus size. Per-row products are exact
    * (fixed-point factors ≤1e4 in magnitude → product ≤1e8 < 2⁵³) and
    * accumulate in DECIMAL(38,0): order-independent, engine-portable. */
  def gramMatrix(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables.table(spark, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("e"))
      .select(col("e"), posexplode(col("e")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("e")).as(Seq("j", "xj")))
      .where(col("i") <= col("j"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum((floor(col("xi") * 10000) * floor(col("xj") * 10000)).cast(dec))
          .as("sxy"))
      .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        col("n"), (col("sxy").cast("double") / 1e8).as("gram"))
      .orderBy("i", "j")
  }

  /** Fixed power-iteration round count for [[pcaAxis]] — deterministic
    * by construction (fixed v₀, fixed rounds, max-abs normalization). */
  val PcaIters = 200

  /** Top principal axis of the corpus Gram matrix, unit-normalized.
    * The d×d Gram is METADATA (2,080 fixed-point-exact doubles,
    * collected once — the codebook discipline); the power iteration is
    * a driver-side d² loop with NO randomness: v₀ = e₀, [[PcaIters]]
    * rounds, max-abs renormalization (division only — the single sqrt
    * happens once at the end and sqrt is IEEE-correctly-rounded). */
  def pcaAxis(spark: SparkSession, dir: String): Array[Double] = {
    val m = Array.ofDim[Double](Dim, Dim)
    gramMatrix(spark, dir).collect().foreach { r =>
      val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      val v = r.getAs[Double]("gram")
      m(i)(j) = v
      m(j)(i) = v
    }
    var v = Array.tabulate(Dim)(i => if (i == 0) 1.0 else 0.0)
    var it = 0
    while (it < PcaIters) {
      val nv = Array.tabulate(Dim) { i =>
        var s = 0.0
        var j = 0
        while (j < Dim) { s += m(i)(j) * v(j); j += 1 }
        s
      }
      val mx = nv.map(math.abs).max
      v = if (mx > 0) nv.map(_ / mx) else nv
      it += 1
    }
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / nrm)
  }

  /** `emb_pca`: per-vector projection onto the top principal axis —
    * the 1-D view behind spectral filtering (outlier tails), corpus
    * drift tracking and SVD-init. Oracled by FULL REPLAY
    * ([[embPcaSql]]): the Gram is already exact fixed-point arithmetic
    * and the power iteration is a fixed [[PcaIters]]-round recursion,
    * so the SQL unrolls it round for round; PcaSpec additionally
    * asserts the eigen-residual, run-to-run determinism and projection
    * parity with a driver-side dot product.
    *
    * Scale shape: after the [[gramMatrix]] pass, the axis is a d-double
    * in-plan literal and the projection is one map-side native-codegen
    * dot product per vector — no shuffle, no state. */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val axis = pcaAxis(spark, dir)
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"),
        VectorFunctions.dot(col("e"), array(axis.map(lit).toSeq: _*)).as("pc1"))
      .orderBy("vec_id")
  }

  /** Fixed-point scale for the per-dim variance terms entering the
    * diversity trace sum (12 decimals: far below embedding variance
    * magnitudes, far above double noise). */
  val DiversityScale = 1e12

  /** `emb_diversity`: corpus diversity as the expected squared pairwise
    * Euclidean distance E‖x−y‖² = 2·tr(Cov) — the one-number "how
    * spread out is this corpus" audit read next to dedup rates when
    * composing a training mix (a collapsing embedding space shows up
    * here long before any pairwise scan could run). The identity turns
    * an O(n²) pairwise statistic into the [[dimStats]] single pass.
    *
    * Determinism: per-dim variances come out of [[dimStats]] in
    * engine-portable IEEE doubles (fixed-point Σx/Σx², < 2⁵³ casts);
    * summing 64 of them in DOUBLE would be order-dependent, so each is
    * snapped to the [[DiversityScale]] grid (`FLOOR(v·10¹²+0.5)` —
    * identical float ops both engines) and summed as DECIMAL, which is
    * order-independent; the one finished sum casts back exactly. */
  def diversity(spark: SparkSession, dir: String): DataFrame =
    dimStats(spark, dir)
      .agg(max(col("n")).as("n_vectors"),
        (sum(floor(col("variance") * lit(DiversityScale) + lit(0.5))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("double") / lit(DiversityScale)).as("trace_cov"))
      .select(col("n_vectors"), col("trace_cov"),
        (col("trace_cov") * lit(2.0)).as("mean_sq_dist"))

  // ---- greedy k-center coreset selection ---------------------------------

  /** Centers selected by [[kcenterSelect]]. */
  val KCenterK = 16

  /** `emb_kcenter`: greedy k-center (farthest-point-first) coreset
    * selection — Gonzalez's 2-approximation to the k-center cover: each
    * round keeps the point FARTHEST from every already-chosen center.
    * The diverse-subset primitive of data curation (coreset seeding,
    * active-learning batch selection, eval-set spread maximization) —
    * the complement of [[Clustering.kmeansAssign]]'s density-seeking
    * centroids.
    *
    * Scale shape: [[KCenterK]] rounds over a CARRIED min-distance
    * column — round r computes ONE native dot product against the
    * newest center (d² = ‖x‖² + ‖c‖² − 2⟨x,c⟩ off the precomputed
    * norms; no join, no shuffle) and folds it into the materialized
    * `least`-so-far via a per-round `localCheckpoint` (the k-core
    * fixpoint pattern), finished by a global top-1 `TakeOrdered`
    * reduction. Total work is k scans × O(1) dots each — O(k·n) —
    * where the naive re-derivation is a least-of-r chain per round,
    * O(k²·n) dots, 8× the arithmetic at k=16 and growing with k.
    * Driver state is k×dim center METADATA (the IVF/k-means codebook
    * precedent). Deterministic: the seed is the smallest vec_id, all
    * ties break by vec_id.
    *
    * Oracled by FULL REPLAY ([[embKcenterSql]]): the selection is an
    * iterated argmax, but with [[KCenterK]] a fixed constant the SQL
    * unrolls every round over the carried frontier; SimilaritySpec
    * additionally replays the greedy recursion on the driver and
    * asserts the identical selection sequence. */
  def kcenterSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = corpus(spark, dir)
    val first = c.orderBy("vec_id").limit(1).collect()(0)
    var last = (first.getLong(0), first.getSeq[Double](1).toArray,
      first.getDouble(2))
    // frontier carries d2 = min squared distance to every chosen center
    var cur = c.withColumn("d2", lit(Double.PositiveInfinity))
    val out = Vector.newBuilder[(Int, Long, Double)]
    out += ((1, first.getLong(0), Double.PositiveInfinity))
    (2 to KCenterK).foreach { r =>
      val (lastId, lastEmb, lastNrm) = last
      val newD2 = greatest(
        col("nrm") * col("nrm") + lit(lastNrm * lastNrm) -
          lit(2.0) * VectorFunctions.dot(col("embedding"),
            array(lastEmb.map(lit).toSeq: _*)),
        lit(0.0))
      cur = cur.where(col("vec_id") =!= lastId)
        .withColumn("d2", least(col("d2"), newD2))
        .localCheckpoint() // materialize; next round reads this, not lineage
      val best = cur
        .orderBy(col("d2").desc, col("vec_id")).limit(1).collect()(0)
      last = (best.getLong(0), best.getSeq[Double](1).toArray,
        best.getDouble(2))
      out += ((r, best.getLong(0),
        math.sqrt(best.getAs[Double]("d2"))))
    }
    out.result().toDF("sel_idx", "vec_id", "cover_radius")
      .select(col("sel_idx"), col("vec_id"),
        // the seed has no prior centers: publish NULL, not Infinity
        when(col("cover_radius") === Double.PositiveInfinity, lit(null))
          .otherwise(col("cover_radius")).as("cover_radius"))
      .orderBy("sel_idx")
  }

  // ---- ANN oracle SQL ------------------------------------------------------

  /** Brute-force exact top-k — the oracle for `ann_topk_exact` AND (under
    * the measured-recall-1.0 license, SURVEY §6, asserted per SF in
    * SimilaritySpec) for `ann_topk_lsh`. */
  private val annTopKExactSql: String =
    s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |           FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id % $QueryModulus = 0),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(c.e, q.qe)
       |           / (SQRT(list_dot_product(c.e, c.e)) * SQRT(list_dot_product(q.qe, q.qe))) AS cosine
       |  FROM c, q WHERE c.vec_id <> q.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin

  /** Shared exact-rerank tail: candidates (query_id, vec_id) → exact
    * cosine → per-query top-[[TopK]] with the (cosine DESC, neighbor_id)
    * tie order [[graft.functions.TopKByScore]] implements. */
  private def rerankTailSql(candRel: String): String =
    s"""q AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id % $QueryModulus = 0),
       |scored AS (
       |  SELECT $candRel.query_id, $candRel.vec_id AS neighbor_id,
       |         list_dot_product(v.e, q.qe)
       |           / (SQRT(list_dot_product(v.e, v.e)) * SQRT(list_dot_product(q.qe, q.qe))) AS cosine
       |  FROM $candRel JOIN c v ON $candRel.vec_id = v.vec_id
       |            JOIN q ON $candRel.query_id = q.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin

  /** The hyperplane-LSH index REPLAYED arithmetically: derived bit
    * width (the integer [[lshBitsFor]] form), table count (the Scala
    * [[lshTablesFor]] values embedded as a bits-keyed CASE — no
    * transcendental replay), the Rademacher plane matrix from
    * [[graft.functions.HyperplaneSigs.planeSignSql]]'s integer hash,
    * per-(vec, table) sign-bit signatures with the expression's exact
    * sequential dot (`list_reduce` left fold; (0+x)==x), the
    * [[LshBucketCap]] mega-bucket drop, bucket-join candidates, exact
    * rerank. Like the IVF/PQ replays, the oracle checks the
    * APPROXIMATION's own contract — no recall condition attaches. */
  private val annTopKLshSql: String = {
    val tablesCase = (LshBits to LshMaxBits)
      .map(b => s"WHEN $b THEN ${lshTablesFor(b)}").mkString(" ")
    val flatIdx = s"(CAST(t AS BIGINT) * bits + b) * $Dim + d + $PlaneSeed"
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |bb AS (SELECT COALESCE(MIN(CASE WHEN ($LshTargetBucketPop << s.s) >= nn.n
       |                THEN s.s END), $LshMaxBits) AS bits
       |       FROM nn, (SELECT unnest(generate_series($LshBits, $LshMaxBits)) AS s) s),
       |tt AS (SELECT bits, CASE bits $tablesCase END AS tables FROM bb),
       |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |      FROM embeddings),
       |tb AS (SELECT g1.t, g2.b, tt.bits FROM tt,
       |         (SELECT unnest(generate_series(0, ${LshMaxTables - 1})) AS t) g1,
       |         (SELECT unnest(generate_series(0, ${LshMaxBits - 1})) AS b) g2
       |       WHERE g1.t < tt.tables AND g2.b < tt.bits),
       |plc AS (SELECT t, b, d,
       |               ${graft.functions.HyperplaneSigs.planeSignSql(flatIdx)} AS comp
       |        FROM (SELECT t, b, bits, unnest(generate_series(0, ${Dim - 1})) AS d
       |              FROM tb)),
       |pl AS (SELECT t, b, list(comp ORDER BY d) AS p FROM plc GROUP BY 1, 2),
       |rawsig AS (
       |  SELECT v.vec_id, pl.t AS tbl,
       |         CAST(SUM(CASE WHEN list_reduce(list_transform(generate_series(1, $Dim),
       |                  i -> v.e[i] * pl.p[i]), (a2, b2) -> a2 + b2) > 0
       |             THEN (1 << pl.b) ELSE 0 END) AS INT) AS sig
       |  FROM c v, pl GROUP BY 1, 2),
       |pop AS (SELECT tbl, sig, COUNT(*) AS pop FROM rawsig GROUP BY 1, 2),
       |csig AS (SELECT r0.vec_id, r0.tbl, r0.sig FROM rawsig r0
       |         JOIN pop USING (tbl, sig) WHERE pop.pop <= $LshBucketCap),
       |qsig AS (SELECT vec_id AS query_id, tbl, sig FROM csig
       |         WHERE vec_id % $QueryModulus = 0),
       |cand AS (SELECT DISTINCT qs.query_id, s.vec_id
       |         FROM csig s JOIN qsig qs USING (tbl, sig)
       |         WHERE s.vec_id <> qs.query_id),
       |${rerankTailSql("cand")}""".stripMargin
  }

  /** [[graft.functions.NearestCells]]' distance loop replayed with the
    * IDENTICAL IEEE operation sequence: t = e[i]−c[i]; s += t·t, left to
    * right. `list_reduce` is a sequential left fold and (0.0 + x) == x
    * exactly, so the fold equals the expression's running sum bit for
    * bit — the dot-product identity the TRAINING replay uses would round
    * differently and could flip a near-tie cell assignment. */
  private def nearestD2Sql(eRef: String, cRef: String): String =
    s"list_reduce(list_transform(generate_series(1, len($eRef)), " +
      s"i -> ($eRef[i] - $cRef[i]) * ($eRef[i] - $cRef[i])), (a, b) -> a + b)"

  /** The IVF coarse-quantizer training REPLAYED arithmetically: the
    * deterministic hash sample, hash-ordered seeds re-indexed 0..k−1 in
    * seed-vec_id order (the codebook's array order, so the replay's cell
    * ids equal [[graft.functions.NearestCells]]' array indices), then the
    * unrolled [[Clustering.KmeansIters]]-round fixed-point Lloyd chain.
    * Ends in `ivcent2(cell, c)` — the book in force — plus `kk(k, smod)`
    * and the corpus CTE `c`. */
  private val ivfTrainCte: String = {
    val h = Curation.portableHashSql("vec_id")
    val kSql = s"LEAST($IvfMaxCells, GREATEST($IvfCells, n // $IvfTargetCellPop))"
    s"""nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |kk AS (SELECT CAST($kSql AS BIGINT) AS k,
       |              CAST(GREATEST(1, n // GREATEST($IvfTrainTarget,
       |                $IvfTrainPerCell * ($kSql))) AS BIGINT) AS smod
       |       FROM nn),
       |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |      FROM embeddings),
       |ivsmp AS (SELECT vec_id, e FROM c
       |          WHERE ($h) % (SELECT smod FROM kk) = 0),
       |ivsd AS (SELECT vec_id, e FROM (
       |           SELECT vec_id, e,
       |                  ROW_NUMBER() OVER (ORDER BY $h, vec_id) AS rn
       |           FROM ivsmp)
       |         WHERE rn <= (SELECT k FROM kk)),
       |ivcent0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, e AS c
       |            FROM ivsd),
       |${Clustering.assignSql("ivcent0", "iva1", "ivsmp")},
       |${Clustering.updateSql("iva1", "ivcent0", "ivcent1")},
       |${Clustering.assignSql("ivcent1", "iva2", "ivsmp")},
       |${Clustering.updateSql("iva2", "ivcent1", "ivcent2")}""".stripMargin
  }

  /** Full replay of the IVF search: train (above), multi-assign the
    * corpus to its [[IvfAssign]] nearest cells, probe the derived cell
    * count per query, exact-rerank candidates. Because the oracle
    * replays the APPROXIMATION itself, no recall requirement attaches —
    * the hash gate checks the operator's actual contract. */
  private val annTopKIvfSql: String =
    s"""WITH $ivfTrainCte,
       |ivcd AS (SELECT v.vec_id, t.cell, ${nearestD2Sql("v.e", "t.c")} AS d2
       |         FROM c v, ivcent2 t),
       |casg AS (SELECT vec_id, cell FROM (
       |           SELECT vec_id, cell,
       |                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |           FROM ivcd)
       |         WHERE rn <= $IvfAssign),
       |pp AS (SELECT GREATEST($IvfProbes,
       |                CAST(CEIL($IvfProbes * SQRT(k / ${IvfCells}.0)) AS BIGINT)) AS probes
       |       FROM kk),
       |qasg AS (SELECT vec_id AS query_id, cell FROM (
       |           SELECT vec_id, cell,
       |                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
       |           FROM ivcd WHERE vec_id % $QueryModulus = 0)
       |         WHERE rn <= (SELECT probes FROM pp)),
       |cand AS (SELECT DISTINCT qa.query_id, a.vec_id
       |         FROM casg a JOIN qasg qa USING (cell)
       |         WHERE a.vec_id <> qa.query_id),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id % $QueryModulus = 0),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
       |         list_dot_product(v.e, q.qe)
       |           / (SQRT(list_dot_product(v.e, v.e)) * SQRT(list_dot_product(q.qe, q.qe))) AS cosine
       |  FROM cand JOIN c v ON cand.vec_id = v.vec_id
       |            JOIN q ON cand.query_id = q.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin

  /** Full replay of the PQ search: all [[PqSubspaces]] sub-codebook
    * trainings unrolled (each the same fixed-point Lloyd over the
    * sliced hash sample), every corpus vector encoded to its nearest
    * sub-centroid per subspace and reconstructed, compressed-domain
    * cosine prunes to [[PqRerank]] candidates, exact rerank after. */
  private val annTopKPqSql: String = {
    val h = Curation.portableHashSql("vec_id")
    val perSub = (0 until PqSubspaces).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"""pqs$m AS (SELECT vec_id, e[$lo:$hi] AS e FROM pqsmp),
         |pqsd$m AS (SELECT vec_id, e FROM (
         |             SELECT vec_id, e,
         |                    ROW_NUMBER() OVER (ORDER BY $h, vec_id) AS rn
         |             FROM pqs$m)
         |           WHERE rn <= $PqCodesK),
         |pqc${m}z AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, e AS c
         |             FROM pqsd$m),
         |${Clustering.assignSql(s"pqc${m}z", s"pqa${m}x", s"pqs$m")},
         |${Clustering.updateSql(s"pqa${m}x", s"pqc${m}z", s"pqc${m}o")},
         |${Clustering.assignSql(s"pqc${m}o", s"pqa${m}y", s"pqs$m")},
         |${Clustering.updateSql(s"pqa${m}y", s"pqc${m}o", s"pqc${m}f")},
         |enc$m AS (SELECT vec_id, $m AS m, c FROM (
         |            SELECT v.vec_id, t.c,
         |                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |                     ORDER BY ${nearestD2Sql(s"v.e[$lo:$hi]", "t.c")}, t.cell) AS rn
         |            FROM c v, pqc${m}f t)
         |          WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val encUnion = (0 until PqSubspaces).map(m => s"SELECT * FROM enc$m")
      .mkString(" UNION ALL ")
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
       |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |      FROM embeddings),
       |pqsmp AS (SELECT vec_id, e FROM c
       |          WHERE ($h) % (SELECT CAST(GREATEST(1, n // $IvfTrainTarget) AS BIGINT)
       |                        FROM nn) = 0),
       |$perSub,
       |recon AS (SELECT vec_id, flatten(list(c ORDER BY m)) AS rec
       |          FROM ($encUnion) GROUP BY vec_id),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id % $QueryModulus = 0),
       |ap AS (SELECT q.query_id, rc.vec_id,
       |              list_dot_product(rc.rec, q.qe)
       |                / (SQRT(list_dot_product(rc.rec, rc.rec))
       |                   * SQRT(list_dot_product(q.qe, q.qe))) AS approx
       |       FROM recon rc, q WHERE rc.vec_id <> q.query_id),
       |cnd AS (SELECT query_id, vec_id FROM (
       |          SELECT query_id, vec_id,
       |                 ROW_NUMBER() OVER (PARTITION BY query_id
       |                   ORDER BY approx DESC, vec_id) AS rn
       |          FROM ap)
       |        WHERE rn <= $PqRerank),
       |scored AS (
       |  SELECT cnd.query_id, cnd.vec_id AS neighbor_id,
       |         list_dot_product(v.e, q.qe)
       |           / (SQRT(list_dot_product(v.e, v.e)) * SQRT(list_dot_product(q.qe, q.qe))) AS cosine
       |  FROM cnd JOIN c v ON cnd.vec_id = v.vec_id
       |           JOIN q ON cnd.query_id = q.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
       |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin
  }

  /** The MMR greedy rerank REPLAYED: the top-[[MmrPool]] pool per
    * query, then [[MmrK]] unrolled selection rounds — each an anti-join
    * of the pool against the selected set, the max-similarity-to-
    * selected term via the sequential-dot `list_reduce` (identical IEEE
    * sequence to the mapGroups loop), and the argmax with the (score
    * DESC, neighbor_id ASC) tie rule. Greedy-iterated-argmax stops
    * being "no practical ANSI form" once K is a small constant. */
  private val mmrRerankSql: String = {
    // every round's CTE is MATERIALIZED: the selection chain references
    // earlier rounds multiply, and DuckDB's default inlining would
    // re-evaluate the whole recursion exponentially (observed: minutes
    // at sf0.1 vs seconds materialized). Pairwise candidate sims are
    // computed ONCE (pool²·dim) in `pp`, with the mapGroups loop's
    // exact IEEE sequence, and every round joins that table.
    val rounds = (2 to MmrK).map { k =>
      val selu = (1 until k).map(j => s"SELECT * FROM s$j")
        .mkString(" UNION ALL ")
      s"""selu$k AS MATERIALIZED ($selu),
         |ms$k AS MATERIALIZED (
         |  SELECT pp.query_id, pp.i AS neighbor_id, MAX(pp.sim) AS maxsel
         |  FROM pp JOIN selu$k s
         |    ON pp.query_id = s.query_id AND pp.j = s.neighbor_id
         |  GROUP BY 1, 2),
         |s$k AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, cosine FROM (
         |    SELECT p.query_id, p.neighbor_id, p.cosine,
         |           ROW_NUMBER() OVER (PARTITION BY p.query_id
         |             ORDER BY $MmrLambda * p.cosine
         |               - ${1.0 - MmrLambda} * ms.maxsel DESC,
         |               p.neighbor_id) AS rn
         |    FROM pool p
         |    JOIN ms$k ms ON p.query_id = ms.query_id
         |                AND p.neighbor_id = ms.neighbor_id
         |    LEFT JOIN selu$k sl ON p.query_id = sl.query_id
         |                       AND p.neighbor_id = sl.neighbor_id
         |    WHERE sl.neighbor_id IS NULL)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK).map(k =>
      s"SELECT query_id, $k AS mmr_rank, neighbor_id, cosine FROM s$k")
      .mkString(" UNION ALL ")
    s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |           FROM embeddings),
       |cn AS (SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM c),
       |q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM cn
       |      WHERE vec_id % $QueryModulus = 0),
       |pool AS MATERIALIZED (SELECT query_id, neighbor_id, cosine, e, nrm FROM (
       |  SELECT q.query_id, v.vec_id AS neighbor_id,
       |         list_dot_product(v.e, q.qe) / (v.nrm * q.qn) AS cosine,
       |         v.e, v.nrm,
       |         ROW_NUMBER() OVER (PARTITION BY q.query_id
       |           ORDER BY list_dot_product(v.e, q.qe) / (v.nrm * q.qn) DESC,
       |                    v.vec_id) AS rn
       |  FROM cn v, q WHERE v.vec_id <> q.query_id)
       |  WHERE rn <= $MmrPool),
       |pp AS MATERIALIZED (
       |  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
       |         list_reduce(list_transform(generate_series(1, $Dim),
       |           ix -> a.e[ix] * b.e[ix]), (a2, b2) -> a2 + b2)
       |           / (a.nrm * b.nrm) AS sim
       |  FROM pool a JOIN pool b ON a.query_id = b.query_id
       |                         AND a.neighbor_id <> b.neighbor_id),
       |s1 AS MATERIALIZED (SELECT query_id, neighbor_id, cosine FROM (
       |        SELECT query_id, neighbor_id, cosine,
       |               ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cosine DESC, neighbor_id) AS rn FROM pool)
       |       WHERE rn = 1),
       |$rounds
       |SELECT query_id, CAST(mmr_rank AS INT) AS mmr_rank, neighbor_id, cosine
       |FROM ($out) ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** The recall report REPLAYED: the exact scan and all three index
    * replays inlined as SCOPED subqueries (each keeps its own WITH
    * namespace), then the per-query hit counts and the report's exact
    * arithmetic — mean recall is ONE division of two integer sums,
    * min recall a min over single divisions of small integers, so
    * every emitted double is a single IEEE op on exact integers. */
  private val annRecallReportSql: String = {
    def hits(rel: String) =
      s"""(SELECT e.query_id, COUNT(*) AS k,
         |        SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |          AS found
         | FROM ex e LEFT JOIN $rel a
         |   ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         | GROUP BY 1)""".stripMargin
    def report(name: String, rel: String) =
      s"""SELECT '$name' AS method, COUNT(*) AS n_queries,
         |       CAST(SUM(found) AS DOUBLE) / CAST(SUM(k) AS DOUBLE)
         |         AS mean_recall,
         |       MIN(CAST(found AS DOUBLE) / CAST(k AS DOUBLE)) AS min_recall,
         |       CAST(SUM(CASE WHEN found = k THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_perfect
         |FROM ${hits(rel)}""".stripMargin
    s"""WITH ex AS (SELECT query_id, neighbor_id FROM ($annTopKExactSql)),
       |xlsh AS (SELECT query_id, neighbor_id FROM ($annTopKLshSql)),
       |xivf AS (SELECT query_id, neighbor_id FROM ($annTopKIvfSql)),
       |xpq AS (SELECT query_id, neighbor_id FROM ($annTopKPqSql))
       |SELECT * FROM (
       |${report("lsh", "xlsh")}
       |UNION ALL
       |${report("ivf", "xivf")}
       |UNION ALL
       |${report("pq", "xpq")})
       |ORDER BY method""".stripMargin
  }

  /** emb_gram's oracle — also the matrix source of the emb_pca replay. */
  private val embGramSql: String =
    """WITH c AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |           FROM embeddings),
      |p AS (SELECT e, unnest(generate_series(1, len(e))) AS i FROM c),
      |pp AS (SELECT e, i, unnest(generate_series(i, len(e))) AS j FROM p)
      |SELECT CAST(i - 1 AS INT) AS i, CAST(j - 1 AS INT) AS j, COUNT(*) AS n,
      |       CAST(SUM(CAST(FLOOR(e[i]*10000)*FLOOR(e[j]*10000)
      |                     AS DECIMAL(38,0))) AS DOUBLE)/100000000 AS gram
      |FROM pp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The PCA power iteration REPLAYED: the exact fixed-point Gram
    * (scoped [[embGramSql]] subquery — bit-identical to what the driver
    * collected), v₀ = e₁, then [[PcaIters]] unrolled rounds — each a
    * 64-row matvec whose inner sum is the driver loop's sequential
    * `list_reduce` fold, max-abs normalized — every round MATERIALIZED
    * (the CTE chain is [[PcaIters]] deep; default inlining would
    * re-evaluate it combinatorially), then the final L2 normalize and
    * the per-vector projection via `list_dot_product` (= the codegen
    * dot). Iterated matrix recursion stops being "no practical ANSI
    * form" once the round count is a fixed constant. */
  private val embPcaSql: String = {
    val matvec =
      s"""SELECT m.i AS i,
         |       list_reduce(list_transform(generate_series(1, $Dim),
         |         j -> m.row[j] * pv.v[j]), (a2, b2) -> a2 + b2) AS s"""
        .stripMargin
    val rounds = (1 to PcaIters).map { k =>
      s"""pv$k AS MATERIALIZED (
         |  SELECT list(CASE WHEN mx > 0 THEN s / mx ELSE s END ORDER BY i) AS v
         |  FROM (SELECT i, s, MAX(ABS(s)) OVER () AS mx
         |        FROM ($matvec FROM m, pv${k - 1} pv)))""".stripMargin
    }.mkString(",\n")
    s"""WITH gm AS (SELECT i, j, gram FROM ($embGramSql)),
       |mf AS (SELECT i, j, gram FROM gm
       |       UNION ALL SELECT j, i, gram FROM gm WHERE i <> j),
       |m AS MATERIALIZED (SELECT i, list(gram ORDER BY j) AS row
       |                   FROM mf GROUP BY i),
       |pv0 AS (SELECT list_transform(generate_series(1, $Dim),
       |          x -> CASE WHEN x = 1 THEN CAST(1 AS DOUBLE)
       |               ELSE CAST(0 AS DOUBLE) END) AS v),
       |$rounds,
       |ax AS (SELECT list_transform(v, x -> x / SQRT(
       |         list_reduce(list_transform(v, y -> y * y),
       |           (a2, b2) -> a2 + b2))) AS a
       |       FROM pv$PcaIters),
       |ce AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |       FROM embeddings)
       |SELECT ce.vec_id, list_dot_product(ce.e, ax.a) AS pc1
       |FROM ce, ax ORDER BY ce.vec_id""".stripMargin
  }

  /** The greedy k-center selection REPLAYED: [[KCenterK]] unrolled
    * rounds over a carried min-distance frontier — each round folds the
    * previous winner's distance into `d2` with the exact Spark
    * expression tree (`(nrm² + c.nrm²) − 2·dot`, floored at 0) and
    * takes the farthest row with the (d2 DESC, vec_id ASC) tie rule.
    * Every round MATERIALIZED (the frontier chain is K deep). */
  private val embKcenterSql: String = {
    val rounds = (2 to KCenterK).map { r =>
      s"""kf$r AS MATERIALIZED (
         |  SELECT f.vec_id, f.e, f.nrm,
         |         LEAST(f.d2, GREATEST(f.nrm * f.nrm + c.nrm * c.nrm
         |           - 2 * list_dot_product(f.e, c.e),
         |           CAST(0 AS DOUBLE))) AS d2
         |  FROM kf${r - 1} f, kc${r - 1} c WHERE f.vec_id <> c.cid),
         |kc$r AS MATERIALIZED (
         |  SELECT vec_id AS cid, e, nrm, d2 FROM kf$r
         |  ORDER BY d2 DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (2 to KCenterK).map(r =>
      s"SELECT $r AS sel_idx, cid AS vec_id, SQRT(d2) AS cover_radius FROM kc$r")
      .mkString(" UNION ALL ")
    s"""WITH c0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |            FROM embeddings),
       |cn AS (SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM c0),
       |kc1 AS MATERIALIZED (SELECT vec_id AS cid, e, nrm FROM cn
       |        WHERE vec_id = (SELECT MIN(vec_id) FROM cn)),
       |kf1 AS MATERIALIZED (SELECT vec_id, e, nrm,
       |        CAST('infinity' AS DOUBLE) AS d2 FROM cn),
       |$rounds
       |SELECT CAST(sel_idx AS INT) AS sel_idx, vec_id, cover_radius FROM (
       |  SELECT 1 AS sel_idx, cid AS vec_id, CAST(NULL AS DOUBLE) AS cover_radius
       |  FROM kc1
       |  UNION ALL $out)
       |ORDER BY sel_idx""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("emb_kcenter", kcenterSelect, embKcenterSql),
    QueryDef("emb_pca", pcaProject, embPcaSql),
    QueryDef("emb_mmr_rerank", mmrRerank, mmrRerankSql),
    QueryDef("ann_recall_report", annRecallReport, annRecallReportSql),
    QueryDef("ann_topk_exact", annTopKExact, annTopKExactSql),
    QueryDef("ann_topk_lsh", annTopKLsh, annTopKLshSql),
    QueryDef("ann_topk_ivf", annTopKIvf, annTopKIvfSql),
    QueryDef("ann_topk_pq", annTopKPq, annTopKPqSql),
    QueryDef("ann_range", annRange,
      s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id % $QueryModulus = 0)
         |SELECT q.query_id, c.vec_id AS neighbor_id,
         |       list_dot_product(c.e, q.qe)
         |         / (SQRT(list_dot_product(c.e, c.e)) * SQRT(list_dot_product(q.qe, q.qe))) AS cosine
         |FROM c, q
         |WHERE c.vec_id <> q.query_id
         |  AND list_dot_product(c.e, q.qe)
         |        / (SQRT(list_dot_product(c.e, c.e)) * SQRT(list_dot_product(q.qe, q.qe)))
         |      >= $RangeThreshold
         |ORDER BY query_id, neighbor_id""".stripMargin),
    QueryDef("emb_gram", gramMatrix, embGramSql),
    QueryDef("emb_quantize", embQuantize,
      """WITH c AS (SELECT vec_id,
        |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |           FROM embeddings),
        |m AS (SELECT vec_id, e, list_min(e) AS mn,
        |             (list_max(e) - list_min(e)) / CAST(255 AS DOUBLE) AS scale
        |      FROM c),
        |ex AS (SELECT vec_id, mn, scale, e,
        |              unnest(generate_series(1, len(e))) AS i FROM m),
        |k AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim, mn, scale, e[i] AS x,
        |             CAST(CASE WHEN scale > 0
        |                  THEN FLOOR((e[i] - mn)/scale + CAST(0.5 AS DOUBLE))
        |                  ELSE 0 END AS INT) AS code
        |      FROM ex)
        |SELECT vec_id, dim, code, ABS(x - (mn + code*scale)) AS err
        |FROM k ORDER BY vec_id, dim""".stripMargin),
    QueryDef("emb_norm", embNorm,
      """WITH c AS (SELECT vec_id,
        |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |           FROM embeddings),
        |n AS (SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM c),
        |ex AS (SELECT vec_id, nrm, e,
        |              unnest(generate_series(1, len(e))) AS i FROM n)
        |SELECT vec_id, CAST(i - 1 AS INT) AS dim, nrm, e[i]/nrm AS u
        |FROM ex ORDER BY vec_id, dim""".stripMargin),
    QueryDef("emb_retrieval_metrics", retrievalMetrics, {
      val wCase = (1 to TopK)
        .map(i => s"WHEN $i THEN ${ndcgWeights(i - 1)}")
        .mkString("CASE rn ", " ", " ELSE 0 END")
      val idcgCase = (0 to TopK)
        .map(m => s"WHEN $m THEN ${ndcgIdeal(m)}")
        .mkString(s"CASE LEAST($TopK, ls.n_label - 1) ", " ", " ELSE 0 END")
      s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id % $QueryModulus = 0),
         |scored AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |         list_dot_product(c.e, q.qe)
         |           / (SQRT(list_dot_product(c.e, c.e)) * SQRT(list_dot_product(q.qe, q.qe))) AS cosine
         |  FROM c, q WHERE c.vec_id <> q.query_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rn FROM scored),
         |t AS (SELECT query_id, neighbor_id, rn FROM r WHERE rn <= $TopK),
         |lb AS (SELECT vec_id, label FROM embeddings),
         |ls AS (SELECT label, COUNT(*) AS n_label FROM lb GROUP BY 1),
         |j AS (SELECT t.query_id, ql.label AS q_label, t.rn,
         |        CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END AS rel
         |      FROM t JOIN lb ql ON ql.vec_id = t.query_id
         |             JOIN lb nl ON nl.vec_id = t.neighbor_id),
         |a AS (SELECT query_id, q_label,
         |        CAST(SUM(rel) AS BIGINT) AS n_rel_at_k,
         |        MIN(CASE WHEN rel = 1 THEN rn END) AS first_rel_rank,
         |        CAST(SUM(rel * ($wCase)) AS BIGINT) AS dcg_i
         |      FROM j GROUP BY 1, 2)
         |SELECT a.query_id, a.n_rel_at_k,
         |       CASE WHEN a.first_rel_rank IS NULL THEN CAST(0 AS DOUBLE)
         |            ELSE CAST(1 AS DOUBLE) / CAST(a.first_rel_rank AS DOUBLE)
         |       END AS mrr,
         |       CAST(a.n_rel_at_k AS DOUBLE) / CAST($TopK AS DOUBLE)
         |         AS precision_at_k,
         |       CASE WHEN ($idcgCase) > 0
         |            THEN CAST(a.dcg_i AS DOUBLE) / CAST(($idcgCase) AS DOUBLE)
         |            ELSE CAST(0 AS DOUBLE) END AS ndcg_at_k
         |FROM a JOIN ls ON ls.label = a.q_label
         |ORDER BY query_id""".stripMargin
    }),
    QueryDef("emb_silhouette", labelSilhouette,
      s"""WITH c AS (SELECT vec_id, label,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |ex AS (SELECT label, unnest(generate_series(1, len(embedding))) AS i,
         |              embedding AS e2
         |       FROM embeddings),
         |d AS (SELECT label, CAST(i - 1 AS INT) AS dim,
         |             CAST(e2[i] AS DOUBLE) AS v FROM ex),
         |cent AS (SELECT label, dim,
         |           CAST(SUM(CAST(FLOOR(v*$CentroidScale) AS DECIMAL(28,0)))
         |                AS DOUBLE) / $CentroidScale / COUNT(*) AS cv
         |         FROM d GROUP BY 1, 2),
         |cl AS (SELECT label AS clabel, list(cv ORDER BY dim) AS ce
         |       FROM cent GROUP BY 1),
         |dist AS (SELECT c.vec_id, c.label, cl.clabel,
         |           SQRT(GREATEST(list_dot_product(c.e, c.e)
         |                + list_dot_product(cl.ce, cl.ce)
         |                - 2.0*list_dot_product(c.e, cl.ce), 0.0)) AS dist
         |         FROM c CROSS JOIN cl),
         |ab AS (SELECT vec_id, MAX(label) AS label,
         |         MAX(CASE WHEN label = clabel THEN dist END) AS a,
         |         MIN(CASE WHEN label <> clabel THEN dist END) AS b
         |       FROM dist GROUP BY vec_id),
         |s AS (SELECT label,
         |        CASE WHEN GREATEST(a, b) > 0 THEN (b - a) / GREATEST(a, b)
         |             ELSE 0.0 END AS sil
         |      FROM ab)
         |SELECT label, COUNT(*) AS n_vecs,
         |       CAST(SUM(CAST(FLOOR(sil * $CentroidScale) AS DECIMAL(38,0)))
         |            AS DOUBLE) / $CentroidScale / COUNT(*) AS mean_silhouette
         |FROM s GROUP BY 1 ORDER BY label""".stripMargin),
    QueryDef("emb_centroids", labelCentroids,
      s"""WITH ex AS (
         |  SELECT label, unnest(generate_series(1, len(embedding))) AS i,
         |         embedding AS e
         |  FROM embeddings),
         |d AS (SELECT label, CAST(i - 1 AS INT) AS dim,
         |             CAST(e[i] AS DOUBLE) AS v FROM ex)
         |SELECT label, dim, COUNT(*) AS n_vecs,
         |       CAST(SUM(CAST(FLOOR(v*$CentroidScale) AS DECIMAL(28,0))) AS DOUBLE)
         |         / $CentroidScale / COUNT(*) AS centroid
         |FROM d GROUP BY 1, 2 ORDER BY label, dim""".stripMargin),
    QueryDef("emb_hard_negatives", hardNegatives,
      s"""WITH c AS (SELECT vec_id, label,
         |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS q_label, e AS qe
         |      FROM c WHERE vec_id % $QueryModulus = 0),
         |scored AS (
         |  SELECT q.query_id, c.vec_id AS neighbor_id,
         |         list_dot_product(c.e, q.qe)
         |           / (SQRT(list_dot_product(c.e, c.e)) * SQRT(list_dot_product(q.qe, q.qe))) AS cosine
         |  FROM c, q WHERE c.label <> q.q_label),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, neighbor_id) AS rn FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rn
         |FROM r WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin),
    QueryDef("emb_diversity", diversity,
      s"""WITH ex AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS i, embedding AS e
         |  FROM embeddings),
         |r AS (SELECT CAST(i - 1 AS INT) AS dim, CAST(e[i] AS DOUBLE) AS v FROM ex),
         |a AS (SELECT dim, COUNT(*) AS n,
         |             CAST(SUM(CAST(FLOOR(v*$CentroidScale) AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |             CAST(SUM(CAST(FLOOR((v*v)*$CentroidScale) AS DECIMAL(38,0))) AS DOUBLE) AS sxx
         |      FROM r GROUP BY 1),
         |v AS (SELECT n,
         |        sxx/$CentroidScale/n - (sx/$CentroidScale/n)*(sx/$CentroidScale/n)
         |          AS variance
         |      FROM a),
         |t AS (SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
         |        CAST(SUM(CAST(FLOOR(variance*1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/1e12
         |          AS trace_cov
         |      FROM v)
         |SELECT n_vectors, trace_cov, trace_cov*2.0 AS mean_sq_dist FROM t""".stripMargin),
    QueryDef("emb_dim_stats", dimStats,
      s"""WITH ex AS (
         |  SELECT unnest(generate_series(1, len(embedding))) AS i, embedding AS e
         |  FROM embeddings),
         |r AS (SELECT CAST(i - 1 AS INT) AS dim, CAST(e[i] AS DOUBLE) AS v FROM ex),
         |a AS (SELECT dim, COUNT(*) AS n,
         |             CAST(SUM(CAST(FLOOR(v*$CentroidScale) AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         |             CAST(SUM(CAST(FLOOR((v*v)*$CentroidScale) AS DECIMAL(38,0))) AS DOUBLE) AS sxx
         |      FROM r GROUP BY 1)
         |SELECT dim, n,
         |       sx/$CentroidScale/n AS mean,
         |       sxx/$CentroidScale/n - (sx/$CentroidScale/n)*(sx/$CentroidScale/n)
         |         AS variance
         |FROM a ORDER BY dim""".stripMargin),
    QueryDef("emb_drift", embDrift, {
      val h = graft.operators.Curation.portableHashSql("vec_id")
      def m(sx: String, n: String) =
        s"(CAST($sx AS DOUBLE)/$CentroidScale/$n)"
      def v(sxx: String, sx: String, n: String) =
        s"CAST($sxx AS DOUBLE)/$CentroidScale/$n - ${m(sx, n)}*${m(sx, n)}"
      s"""WITH ex AS (
         |  SELECT ($h) % 2 = 0 AS coh_a,
         |         unnest(generate_series(1, len(embedding))) AS i,
         |         embedding AS e
         |  FROM embeddings),
         |r AS (SELECT coh_a, CAST(i - 1 AS INT) AS dim,
         |             CAST(e[i] AS DOUBLE) AS v FROM ex),
         |st AS (SELECT coh_a, dim, COUNT(*) AS n,
         |              SUM(CAST(FLOOR(v*$CentroidScale) AS DECIMAL(38,0))) AS sx,
         |              SUM(CAST(FLOOR((v*v)*$CentroidScale) AS DECIMAL(38,0))) AS sxx
         |       FROM r GROUP BY 1, 2),
         |a AS (SELECT dim, n AS n_a, sx AS sx_a, sxx AS sxx_a FROM st WHERE coh_a),
         |b AS (SELECT dim, n AS n_b, sx AS sx_b, sxx AS sxx_b FROM st WHERE NOT coh_a),
         |j AS (SELECT dim, n_a, n_b,
         |             ${m("sx_a", "n_a")} AS mean_a,
         |             ${m("sx_b", "n_b")} AS mean_b,
         |             ${v("sxx_a", "sx_a", "n_a")} AS var_a,
         |             ${v("sxx_b", "sx_b", "n_b")} AS var_b
         |      FROM a JOIN b USING (dim)),
         |z AS (SELECT *, ABS(mean_a - mean_b) AS mean_shift,
         |             ABS(mean_a - mean_b)/SQRT(var_a/n_a + var_b/n_b) AS z
         |      FROM j)
         |SELECT dim, n_a, n_b, mean_a, mean_b, var_a, var_b, mean_shift, z,
         |       z > CAST($DriftZ AS DOUBLE) AS drift
         |FROM z ORDER BY dim""".stripMargin
    }),
    QueryDef("emb_label_confusion", labelConfusion,
      s"""WITH ex AS (
         |  SELECT vec_id, label, unnest(generate_series(1, len(embedding))) AS i,
         |         embedding AS e
         |  FROM embeddings),
         |r AS (SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
         |             CAST(e[i] AS DOUBLE) AS v FROM ex),
         |cen AS (SELECT label AS cand, dim,
         |               CAST(SUM(CAST(FLOOR(v*$CentroidScale) AS DECIMAL(28,0))) AS DOUBLE)
         |                 / $CentroidScale / COUNT(*) AS centroid
         |        FROM r GROUP BY 1, 2),
         |d AS (SELECT vec_id, r.label, cen.cand,
         |             SUM(CAST(FLOOR((v - centroid)*(v - centroid) * $CentroidScale)
         |               AS DECIMAL(38,0))) AS s
         |      FROM r JOIN cen ON r.dim = cen.dim
         |      GROUP BY 1, 2, 3),
         |b AS (SELECT vec_id, label, cand,
         |             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s, cand) AS rn
         |      FROM d)
         |SELECT label, cand AS nearest_label, COUNT(*) AS n_vecs
         |FROM b WHERE rn = 1
         |GROUP BY 1, 2 ORDER BY label, nearest_label""".stripMargin),
    QueryDef("emb_sim_hist", centroidDistHist,
      s"""WITH ex AS (
         |  SELECT vec_id, label, unnest(generate_series(1, len(embedding))) AS i,
         |         embedding AS e
         |  FROM embeddings),
         |r AS (SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
         |             CAST(e[i] AS DOUBLE) AS v FROM ex),
         |cen AS (SELECT label, dim,
         |               CAST(SUM(CAST(FLOOR(v*$CentroidScale) AS DECIMAL(28,0))) AS DOUBLE)
         |                 / $CentroidScale / COUNT(*) AS centroid
         |        FROM r GROUP BY 1, 2),
         |t AS (SELECT vec_id, r.label,
         |             (v - centroid)*(v - centroid) AS t2
         |      FROM r JOIN cen ON r.label = cen.label AND r.dim = cen.dim),
         |si AS (SELECT vec_id, label,
         |              CAST(SUM(CAST(FLOOR(t2 * $CentroidScale) AS DECIMAL(38,0))) AS BIGINT)
         |                AS s
         |       FROM t GROUP BY 1, 2),
         |b AS (SELECT label, s // $DistHistBucketI AS bucket FROM si)
         |SELECT label, bucket,
         |       CAST(bucket*$DistHistBucketI AS DOUBLE)/$CentroidScale AS d2_lo,
         |       COUNT(*) AS n_vecs
         |FROM b GROUP BY 1, 2 ORDER BY label, bucket""".stripMargin),
    QueryDef("emb_outliers", embOutliers,
      s"""WITH ex AS (
         |  SELECT vec_id, label, unnest(generate_series(1, len(embedding))) AS i,
         |         embedding AS e
         |  FROM embeddings),
         |r AS (SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
         |             CAST(e[i] AS DOUBLE) AS v FROM ex),
         |cen AS (SELECT label, dim,
         |               CAST(SUM(CAST(FLOOR(v*$CentroidScale) AS DECIMAL(28,0))) AS DOUBLE)
         |                 / $CentroidScale / COUNT(*) AS centroid
         |        FROM r GROUP BY 1, 2),
         |t AS (SELECT vec_id, r.label,
         |             (v - centroid)*(v - centroid) AS t2
         |      FROM r JOIN cen ON r.label = cen.label AND r.dim = cen.dim),
         |d2 AS (SELECT vec_id, label,
         |              CAST(SUM(CAST(FLOOR(t2 * $CentroidScale) AS DECIMAL(38,0))) AS DOUBLE)
         |                / $CentroidScale AS dist2
         |       FROM t GROUP BY 1, 2),
         |m AS (SELECT label,
         |             CAST(SUM(CAST(FLOOR(dist2 * $CentroidScale) AS DECIMAL(38,0))) AS DOUBLE)
         |               / $CentroidScale / COUNT(*) AS mean_d2
         |      FROM d2 GROUP BY 1)
         |SELECT vec_id, d2.label, dist2,
         |       dist2 > CAST($OutlierRatio AS DOUBLE) * mean_d2 AS is_outlier
         |FROM d2 JOIN m USING (label) ORDER BY vec_id""".stripMargin),
    // LSH-candidate near-dup is exact-reranked; recall at sf0.01 is 1.0
    // (verified against the all-pairs oracle), so the exact oracle applies.
    QueryDef("dd_embed_neardup", embedNearDup,
      s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       list_dot_product(a.e, b.e)
         |         / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e))) AS cosine
         |FROM c a JOIN c b ON a.vec_id < b.vec_id
         |WHERE list_dot_product(a.e, b.e)
         |        / (SQRT(list_dot_product(a.e, a.e)) * SQRT(list_dot_product(b.e, b.e)))
         |      >= $NearDupThreshold
         |ORDER BY a_id, b_id""".stripMargin),
    // exact oracle licensed by the per-SF recall-1.0 assertion in
    // SimilaritySpec (brute-force train×eval comparison)
    QueryDef("dd_decontam_sem", semanticDecontam,
      s"""WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |           FROM embeddings),
         |ev AS (SELECT vec_id, e FROM c
         |       WHERE ${Curation.portableHashSql("vec_id")} % ${Dedup.DecontamBenchMod} = 0),
         |tr AS (SELECT vec_id, e FROM c
         |       WHERE NOT (${Curation.portableHashSql("vec_id")} % ${Dedup.DecontamBenchMod} = 0)),
         |p AS (SELECT tr.vec_id,
         |             list_dot_product(tr.e, ev.e)
         |               / (SQRT(list_dot_product(tr.e, tr.e))
         |                  * SQRT(list_dot_product(ev.e, ev.e))) AS cosine
         |      FROM tr, ev),
         |h AS (SELECT vec_id, COUNT(*) AS n_eval_hits, MAX(cosine) AS max_cos
         |      FROM p WHERE cosine >= $NearDupThreshold GROUP BY 1)
         |SELECT tr.vec_id,
         |       COALESCE(n_eval_hits, 0) AS n_eval_hits,
         |       COALESCE(max_cos, 0.0) AS max_cos,
         |       COALESCE(n_eval_hits, 0) > 0 AS contaminated
         |FROM tr LEFT JOIN h USING (vec_id) ORDER BY vec_id""".stripMargin))
}
