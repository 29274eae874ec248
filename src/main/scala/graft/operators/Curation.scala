package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Training-corpus curation operators: dedup-cluster resolution
  * (connected components over near-dup pairs), deterministic
  * train/val/test splits, per-stratum deterministic sampling, and the
  * composed filter→dedup curation pass an LLM data pipeline runs before
  * tokenization.
  *
  * Scale design: the split/sample hash is pure per-row arithmetic (no
  * shuffle, engine-portable, ANSI-overflow-safe); stratified sampling
  * uses the bounded-heap [[graft.functions.TopKByScore]] aggregate
  * (map-side partial heaps — never a per-stratum window sort);
  * connected components iterate min-label propagation where every step
  * is a keyed equi-join + partial aggregate, with only an O(1)
  * convergence checksum on the driver.
  */
object Curation {

  /** Multiplicative (Fibonacci) hash, portable across engines: odd
    * multiplier → a bijection mod 2^31, equidistributed buckets over
    * sequential ids. Stays in BIGINT range ((2^31-1)*2654435761 < 2^63)
    * so ANSI Spark and DuckDB compute it identically — unlike
    * xxhash64, which DuckDB lacks. */
  val HashMod = 2147483648L // 2^31
  val HashMult = 2654435761L // 2^32 / golden ratio, odd

  private[graft] def portableHash(id: org.apache.spark.sql.Column) =
    ((id % HashMod) * HashMult) % HashMod

  private[graft] def portableHashSql(idExpr: String): String =
    s"((($idExpr) % $HashMod) * $HashMult) % $HashMod"

  // ---- deterministic train/val/test split --------------------------------

  val TrainPct = 90L
  val ValPct = 5L // test gets the rest

  /** Assign every document to train/val/test by hash bucket — the
    * standard leakage-safe split: membership depends only on doc_id, so
    * re-runs, backfills and cluster resizing never move a document
    * across splits. Pure per-row expression — no shuffle, no state. */
  def trainValTestSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), (portableHash(col("doc_id")) % 100L).as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test"))
      .orderBy("doc_id")

  // ---- stable shard assignment --------------------------------------------

  val ShardCount = 32L

  /** `smp_shard`: stable hash-sharding balance report — documents are
    * assigned to [[ShardCount]] output shards by the portable id hash
    * (membership depends only on doc_id: re-runs, backfills and
    * cluster resizing never move a document, exactly the
    * [[trainValTestSplit]] guarantee at file-layout granularity), and
    * the report shows each shard's doc count, character volume and
    * id range — the balance check run before a tokenizer/packing fleet
    * fans out one worker per shard, since one hot shard gates the
    * whole stage.
    *
    * Scale shape: the assignment is a pure per-row expression (no
    * shuffle — at write time it becomes the partitionBy column); the
    * report is ONE partial-aggregated groupBy to [[ShardCount]]
    * metadata rows. */
  def shardReport(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select((portableHash(col("doc_id")) % ShardCount).as("shard"),
        col("doc_id"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("shard")

  // ---- per-stratum deterministic sampling --------------------------------

  val StratumSampleK = 20

  /** Uniform deterministic sample of up to `StratumSampleK` events per
    * event_type: the k smallest portable hashes win (a fixed random
    * permutation of each stratum). Implemented with the bounded-heap
    * top-k aggregate, so a stratum of a billion rows costs one partial
    * aggregation — not a window sort of the stratum. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"),
        // negate: TopKByScore keeps highest-score (ties → smaller id),
        // so -hash keeps the k smallest hashes. < 2^31, exact in double.
        (-portableHash(col("event_id")).cast("double")).as("neg_h"))
      .groupBy("event_type")
      .agg(call_function("graft_top_k_by_score",
        col("neg_h"), col("event_id"), lit(StratumSampleK)).as("topk"))
      .select(col("event_type"), posexplode(col("topk")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rn"),
        col("col.id").as("event_id"))
      .orderBy("event_type", "rn")
  }

  // ---- dedup cluster resolution (connected components) -------------------

  /** Iteration cap for min-label propagation — converges in O(diameter)
    * rounds, and near-dup components are shallow (stars/cliques around
    * a template). A corpus whose dup graph forms 2^30-long chains would
    * need the large-star/small-star variant (O(log n) rounds); the plan
    * shape per round is identical. */
  val MaxCcIterations = 30

  /** Connected components by min-label propagation over an undirected
    * edge list `(a_id, b_id)`: every node's label converges to the
    * smallest doc_id in its component — a unique fixpoint, so the
    * result is deterministic under any partitioning/iteration order.
    * Each round is one keyed join + partial min-aggregate; the only
    * driver-side value is a 1-row convergence checksum (the label sum
    * strictly decreases until the fixpoint, so equal sum ⇔ converged).
    * Returns `(id, lbl)` for nodes that appear in edges. */
  def componentLabels(edges: DataFrame, maxIter: Int = MaxCcIterations): DataFrame = {
    val np = edges.sparkSession.sessionState.conf.numShufflePartitions
    val und = edges.select(col("a_id").as("u"), col("b_id").as("v"))
      .unionAll(edges.select(col("b_id").as("u"), col("a_id").as("v")))
      // reused every round; truncates lineage. Partitioned by v — the
      // per-round join key — so rounds exchange only the node-sized
      // label vector, never the edge table (graph-loop r15 restructure)
      .repartition(np, col("v")).localCheckpoint()
    val init = und.select(col("u").as("id")).distinct().withColumn("lbl", col("id"))
    Rounds.fixpoint(init, maxIter)(labelChecksum) { (labels, _) =>
      val nbrMin = und
        .join(labels.select(col("id").as("v"), col("lbl").as("vlbl")), "v")
        .groupBy("u").agg(min("vlbl").as("nbrlbl"))
      labels
        .join(nbrMin.select(col("u").as("id"), col("nbrlbl")), Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbrlbl"), col("lbl"))).as("lbl"))
    }
  }

  private def labelChecksum(labels: DataFrame): java.math.BigDecimal =
    labels.agg(sum(col("lbl").cast(DecimalType(38, 0)))).first().getDecimal(0)

  /** Two-phase large-star/small-star connected components (the
    * alternating-star construction from the MapReduce CC literature):
    * converges in O(log n) rounds on ANY graph shape — the variant to
    * reach for when the dup graph degenerates into long chains, where
    * [[componentLabels]]' min-label propagation needs O(diameter)
    * rounds. Large-star links every larger neighbor of a node to its
    * neighborhood minimum; small-star re-links each node's smaller
    * neighbors (and itself) to that minimum — both are one
    * groupBy-min + keyed join per pass, endpoints only ever move toward
    * smaller ids, and the fixpoint is a star per component rooted at
    * its minimum id. Convergence is detected by an O(1) driver-side
    * edge checksum (count + endpoint sums + a 64-bit edge hash sum).
    * Returns `(id, lbl)` for nodes that appear in edges — the same
    * contract and the same fixpoint labels as [[componentLabels]]. */
  def componentLabelsStar(edges: DataFrame,
      maxIter: Int = MaxCcIterations): DataFrame = {
    val init = edges.select(col("a_id").as("a"), col("b_id").as("b"))
      .where(col("a") =!= col("b")).distinct()
    val e = Rounds.fixpoint(init, maxIter)(edgeChecksum) { (e, _) =>
      // large-star over the bidirected view: for each node u, every
      // neighbor v > u re-links to min(Γ(u) ∪ {u}); each undirected
      // edge is emitted exactly once, from its smaller endpoint
      val d = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      val lm = d.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = d.join(lm, "u").where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .where(col("a") =!= col("b")).distinct().localCheckpoint()
      // small-star over the larger→smaller orientation: each node's
      // smaller neighbors AND the node itself re-link to their minimum
      val s = ls.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val sm = s.groupBy("u").agg(min("v").as("mn"))
      s.join(sm, "u").select(col("v").as("a"), col("mn").as("b"))
        .unionAll(sm.select(col("u").as("a"), col("mn").as("b")))
        .where(col("a") =!= col("b")).distinct()
    }
    // fixpoint: every edge is (member, root) with root the component
    // minimum; roots label themselves
    val nonRoot = e.select(greatest(col("a"), col("b")).as("id"),
      least(col("a"), col("b")).as("lbl"))
    val roots = e.select(least(col("a"), col("b")).as("id")).distinct()
      .withColumn("lbl", col("id"))
    nonRoot.unionAll(roots).distinct()
  }

  /** O(1) driver-side fixpoint detector for the star rounds: edge count,
    * exact endpoint sums, and a 64-bit per-edge hash sum — equal
    * checksums across a round mean the edge set is unchanged, save for
    * a changed set whose count and endpoint sums also match and whose
    * xxhash64 sum collides: odds about 2^-64 per round. */
  private def edgeChecksum(e: DataFrame)
      : (Long, java.math.BigDecimal, java.math.BigDecimal, java.math.BigDecimal) = {
    val r = e.agg(
      count(lit(1)),
      sum(col("a").cast(DecimalType(38, 0))),
      sum(col("b").cast(DecimalType(38, 0))),
      sum(xxhash64(col("a"), col("b")).cast(DecimalType(38, 0)))).first()
    (r.getLong(0), r.getDecimal(1), r.getDecimal(2), r.getDecimal(3))
  }

  // ---- persist-once cluster map ------------------------------------------

  /** The near-dup CLUSTER MAP (doc_id → cluster_id, cluster_id = the
    * smallest doc_id of the component; singletons map to themselves) —
    * the shared trained artifact of the whole components family.
    * Derived ONCE per corpus per session (ngram-Jaccard pairs + the
    * label-propagation fixpoint, then one doc-keyed left join) and
    * `localCheckpoint`ed via [[ArtifactCache]]; every consumer —
    * [[dedupComponents]], [[clusterStats]], [[dedupWeights]],
    * [[canonicalByQuality]], [[leakageSafeSplit]], [[kfoldAssign]],
    * [[graft.operators.Dedup.sourceDupProfile]] — reads the map instead
    * of re-deriving the fixpoint. In a deployment the fixpoint's raw
    * component labels, artifact `dd_cluster_labels`, are persisted next
    * to the corpus ([[ArtifactCache.save]]/[[ArtifactCache.load]]): at
    * 100 TB re-deriving them per query is a 10×-redundant corpus pass.
    * The map is built from the labels by the doc-keyed left join
    * against the LIVE documents table, so labels persisted before docs
    * were appended degrade safely — new docs become singleton clusters
    * instead of vanishing from every consumer — and labels of deleted
    * docs drop. The labels are a unique fixpoint (smallest doc_id per
    * component), so caching cannot change any consumer's result. */
  def clusterMap(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "dd_cluster_map")(
      resolveClusters(spark, dir,
        // `value`, not `of`: the fixpoint's last state is a checkpoint
        ArtifactCache.value(spark, dir, "dd_cluster_labels")(componentLabels(
          Dedup.ngramJaccard(spark, dir).select("a_id", "b_id")))))

  /** (doc_id, cluster_id) for EVERY document from a label fixpoint over
    * the near-dup pairs (docs in no pair are their own cluster). */
  private def resolveClusters(spark: SparkSession, dir: String,
      lbl: DataFrame): DataFrame =
    Tables.table(spark, dir, "documents").select("doc_id")
      .join(lbl.select(col("id").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))

  /** Resolve exact-Jaccard near-dup pairs into dedup clusters: every
    * document gets a `cluster_id` (the smallest doc_id of its
    * component; singletons are their own cluster) and a canonical flag
    * — the "keep one per near-dup cluster" primitive of corpus dedup.
    * Reads the shared [[clusterMap]] artifact; only the cluster-size
    * window and flag are computed per call. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    withClusterStats(clusterMap(spark, dir))

  /** [[dedupComponents]] resolved through the O(log n)-round star
    * variant ([[componentLabelsStar]]) — the same fixpoint labels on
    * the same near-dup pairs (shared exact oracle), converging within
    * the round budget even when the dup graph degenerates into long
    * chains. */
  def dedupComponentsStar(spark: SparkSession, dir: String): DataFrame =
    // deliberately NOT read from the shared map: this key's license is
    // proving the star fixpoint reaches the same labels independently
    withClusterStats(resolveClusters(spark, dir, componentLabelsStar(
      Dedup.ngramJaccard(spark, dir).select("a_id", "b_id"))))

  /** `dd_cluster_stats`: the dup-cluster size distribution — how many
    * clusters of each size the near-dup resolution produced (the
    * headline of every dedup report: singleton fraction, mega-cluster
    * tail, dedup rate = 1 − #clusters/#docs). Two partial-aggregated
    * groupBys over the component labels; no new shuffle shape. */
  def clusterStats(spark: SparkSession, dir: String): DataFrame =
    dedupComponents(spark, dir)
      .groupBy("cluster_size")
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .orderBy("cluster_size")

  /** `dd_weights`: dedup-aware soft example weights — every document
    * kept, weighted 1/cluster_size, so a near-dup cluster contributes
    * ONE document's worth of gradient mass in aggregate (the
    * down-weighting alternative to dropping: repeated data hurts at
    * high repetition counts, but hard-dropping loses the cluster's
    * intra-variation; soft weights keep it). Third member of the
    * dedup-action family next to `dd_components` (drop to smallest id)
    * and `dd_canonical` (keep best quality).
    *
    * Scale shape: identical to [[dedupComponents]] — the weight is one
    * map-side division over the already-computed cluster size. */
  def dedupWeights(spark: SparkSession, dir: String): DataFrame =
    dedupComponents(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (lit(1.0) / col("cluster_size")).as("weight"))
      .orderBy("doc_id")

  /** `dd_canonical`: quality-aware canonical selection — resolve the
    * near-dup clusters of [[dedupComponents]] but keep the HIGHEST-
    * quality member of each cluster (doc_id breaks score ties), not the
    * smallest id. This is the curation-grade variant: when a template
    * spawns many near-copies, "keep the numerically first" throws away
    * the best-written copy about half the time; argmax-by-quality keeps
    * it, at the cost of one extra join against the quality scores.
    *
    * Scale shape: the component fixpoint is [[componentLabels]]
    * unchanged; the quality join is doc_id-keyed (co-partitioned with
    * the label join's output); the per-cluster argmax is a window over
    * `cluster_id` — bounded by the largest dup cluster, which exact
    * dedup upstream keeps small (identical-text mega-clusters collapse
    * before near-dup resolution, the repo's documented op order). */
  def canonicalByQuality(spark: SparkSession, dir: String): DataFrame = {
    val asg = clusterMap(spark, dir)
    val q = TextAnalysis.quality(spark, dir).select("doc_id", "quality_score")
    asg.join(q, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(col("quality_score").desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        (col("rn") === 1).as("is_canonical"))
      .orderBy("doc_id")
  }

  private def withClusterStats(m: DataFrame): DataFrame =
    m.withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")

  // ---- leakage-safe (cluster-aware) split --------------------------------

  /** `smp_leakage_split`: train/val/test split hashed over the dedup
    * CLUSTER id instead of the doc id, so near-duplicate documents can
    * never straddle train and eval — the classic evaluation-leakage
    * failure of naive per-doc splits (near-dups of eval docs left in
    * train inflate benchmark scores; cf. Lee et al. 2021 §6). Same pure
    * split arithmetic as [[trainValTestSplit]], applied after the
    * component fixpoint; membership is still re-run-stable because
    * cluster_id (smallest member doc_id) is itself a fixpoint. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    clusterMap(spark, dir)
      .withColumn("bucket", portableHash(col("cluster_id")) % 100L)
      .withColumn("split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test"))
      .orderBy("doc_id")
  }

  /** Folds for [[kfoldAssign]]. */
  val KFolds = 5L

  /** `smp_kfold`: leakage-safe k-fold assignment — every document gets
    * a fold by hashing its near-dup CLUSTER id, so no fold's held-out
    * set ever contains a near-duplicate of another fold's training
    * data (the [[leakageSafeSplit]] guard, generalized from one
    * train/val/test cut to cross-validation).
    *
    * Scale shape: identical to [[leakageSafeSplit]] — the component
    * fixpoint dominates; fold assignment is one pure per-row hash. */
  def kfoldAssign(spark: SparkSession, dir: String): DataFrame =
    clusterMap(spark, dir)
      .withColumn("fold", portableHash(col("cluster_id")) % KFolds)
      .orderBy("doc_id")

  // ---- token-budget selection --------------------------------------------

  /** `smp_token_budget`: select the highest-quality documents until a
    * token budget is exhausted — "give me the best T tokens", the
    * subsetting step between scoring and tokenization in an LLM data
    * recipe (budget here: half the corpus tokens, a 1-row broadcast
    * aggregate so the operator is scale-invariant).
    *
    * The global quality-ordered cumulative sum is the scale hazard: a
    * naive `SUM OVER (ORDER BY score)` window funnels the corpus
    * through ONE task. [[SkewUtils.prefixSum]] in exact
    * (score DESC, doc_id) order instead — balanced even when quality
    * scores mode-concentrate (clip-capped corpora pile up at exactly
    * 0.0/1.0; the range partitioner splits those ties on doc_id),
    * which is precisely where a quality-bucketed window collapses. */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val budget = q.agg(expr("sum(n_tokens) DIV 2").as("budget"))
    SkewUtils.prefixSum(q,
        Seq(col("quality_score").desc, col("doc_id").asc),
        col("n_tokens"), "cum_tokens")
      .crossJoin(broadcast(budget))
      .where(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("cum_tokens"))
      .orderBy("doc_id")
  }

  // ---- weighted domain mixing (epochs) -----------------------------------

  /** Repetition weight per language in milli-epochs (1000 = one pass).
    * Low-resource languages are upsampled toward balance — the standard
    * "domain mixing" knob of an LLM pre-training data recipe. Unlisted
    * languages default to 1000. */
  val MixWeightsMilli: Seq[(String, Long)] = Seq(
    "en" -> 1000L, "de" -> 2500L, "es" -> 2200L, "fr" -> 2400L, "zh" -> 1800L)
  val DefaultMixMilli = 1000L

  /** Expand the corpus into a weighted training mix: each document is
    * emitted `floor(w)` times, plus once more for a deterministic
    * hash-chosen `frac(w)` fraction of its language's documents — so the
    * realized mix converges to the target weights with zero randomness.
    * Pure per-row expression + generator: no shuffle, no state, and the
    * epoch assignment never moves under re-runs or repartitioning. */
  def weightedMix(spark: SparkSession, dir: String): DataFrame = {
    val wcol = MixWeightsMilli.foldLeft(lit(DefaultMixMilli)) {
      case (acc, (l, w)) => when(col("lang") === l, lit(w)).otherwise(acc)
    }
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), wcol.as("w_milli"))
      .withColumn("n_epochs",
        expr("w_milli DIV 1000") +
          when(portableHash(col("doc_id")) % 1000L < col("w_milli") % 1000L, 1L)
            .otherwise(0L))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("n_epochs"))).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** `smp_mix_report`: realized-vs-target audit of the [[weightedMix]]
    * recipe — per language, input docs, mix rows the expansion will
    * emit, the target milli-epoch weight and the realized one (integer
    * thousandths). The verification step a mix design ships with: a
    * drifting realized share is the first sign a weight table and a
    * corpus snapshot have gone out of sync. Recomputes the per-doc
    * epoch counts arithmetically (no explode — the report never
    * materializes the expansion) in ONE partial-aggregating groupBy
    * over the language catalog; all-integer arithmetic. */
  def mixReport(spark: SparkSession, dir: String): DataFrame = {
    val wcol = MixWeightsMilli.foldLeft(lit(DefaultMixMilli)) {
      case (acc, (l, w)) => when(col("lang") === l, lit(w)).otherwise(acc)
    }
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), wcol.as("wm"))
      .withColumn("n_epochs", expr("wm DIV 1000") +
        when(portableHash(col("doc_id")) % 1000L < col("wm") % 1000L, 1L)
          .otherwise(0L))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_epochs")).as("n_mix_rows"),
        max(col("wm")).as("target_milli"))
      .select(col("lang"), col("n_docs"), col("n_mix_rows"),
        col("target_milli"),
        expr("n_mix_rows * 1000 DIV n_docs").as("realized_milli"))
      .orderBy("lang")
  }

  // ---- temperature-balanced source sampling ------------------------------

  /** Fixed-point scale for the per-source √count weights: 6 decimals of
    * the square root, floored to an integer so every later step is pure
    * integer arithmetic. */
  val TemperatureScale = 1000000L

  /** `smp_temperature`: temperature-balanced source subsampling at
    * α = 1/2 — each source's share of the output budget (half the
    * corpus) is proportional to √count rather than count, the standard
    * temperature-sampling move that keeps big web sources from drowning
    * out small high-quality ones (α = 1 is proportional, α = 0 is
    * uniform; 1/2 is the portable sweet spot because √ is the one
    * fractional power both engines round identically — a free α knob
    * would need libm `pow`, which the repo's determinism rules ban).
    *
    * Determinism: √count is correctly-rounded IEEE in both engines, one
    * multiply and FLOOR make it an integer weight, and every subsequent
    * op (sums, budget × weight, division) is integer `DIV` — no double
    * ever accumulates. Selection within a source is the smallest-hash
    * prefix (portable hash, doc_id tiebreak), so the sample is stable
    * under re-runs and partitioning.
    *
    * Scale shape: per-source counts partial-aggregate map-side; the
    * allocation table is #sources rows, broadcast both into the rank
    * join and (as a 1-row total) into the weight normalizer. The
    * per-source rank is [[SkewUtils.groupRank]] — the range-partitioned
    * global scan minus broadcast group offsets — so a mega-source
    * splits across partitions on (hk, doc_id) instead of funnelling
    * through one window task. */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        portableHash(col("doc_id")).as("hk"))
    val st = d.groupBy("source").agg(count(lit(1)).as("n_s"))
      .withColumn("qs",
        floor(sqrt(col("n_s").cast("double")) * lit(TemperatureScale.toDouble))
          .cast("long"))
    val tot = st.agg(sum("n_s").as("n_total"), sum("qs").as("s_q"))
    val alloc = st.crossJoin(broadcast(tot))
      .select(col("source"),
        expr("((n_total DIV 2) * qs) DIV s_q").as("alloc"))
    val ranked = SkewUtils.groupRank(d, "source",
      Seq(col("hk").asc, col("doc_id").asc), "rn")
    ranked.join(broadcast(alloc), "source")
      .where(col("rn") <= col("alloc"))
      .select(col("source"), col("rn").cast("int").as("rn"), col("doc_id"))
      .orderBy("source", "rn")
  }

  /** `smp_mix_plan`: water-filling token allocation — given a token
    * budget (half the corpus here), give every source as many of its
    * own tokens as possible under a COMMON cap: small sources keep
    * everything, large ones are leveled down to the water line, and
    * the integer remainder goes one token each to the first capped
    * sources in the deterministic order. This is the allocation rule
    * behind "cap any single crawl at X% of the mix" data governance —
    * the planning complement of [[temperatureSample]] (which reweights
    * by √size rather than leveling).
    *
    * Algorithm: sources sorted ascending by (tokens, name); a source
    * is uncapped iff taking it whole still leaves enough headroom for
    * every LATER source to get at least as much (`n_s·m_remaining ≤
    * budget − prefix`), which by the classic exchange argument makes
    * the uncapped set exactly a prefix; capped sources split the
    * remaining budget by integer division. ALL-integer arithmetic —
    * the plan is bit-portable and exactly oracle-checkable.
    *
    * Scale shape: the corpus collapses to the SOURCE CATALOG in one
    * partial-aggregating groupBy; everything after (the prefix-sum
    * self-join — the [[graft.operators.Gold.abcClassOf]] offset
    * pattern, no window — and two 1-row broadcasts) runs on
    * catalog-sized metadata. */
  def mixPlan(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.table(spark, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("source").agg(sum(col("t")).as("n_tokens"))
    val before = col("n2") < col("n_tokens") ||
      (col("n2") === col("n_tokens") && col("s2") < col("source"))
    val pre = st
      .join(st.select(col("source").as("s2"), col("n_tokens").as("n2")),
        before, "left")
      .groupBy("source", "n_tokens")
      .agg(coalesce(sum(col("n2")), lit(0L)).as("prevcum"),
        (count(col("s2")) + 1).as("idx"))
    val tot = st.agg(sum(col("n_tokens")).as("total"),
      count(lit(1)).as("nsrc"))
    val flagged = pre.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total DIV 2"))
      .withColumn("uncapped",
        col("n_tokens") * (col("nsrc") - col("idx") + 1)
          <= col("budget") - col("prevcum"))
    val u = flagged.agg(
      coalesce(sum(when(col("uncapped"), col("n_tokens"))), lit(0L)).as("usum"),
      coalesce(sum(when(col("uncapped"), 1L)), lit(0L)).as("ucnt"))
    flagged.crossJoin(broadcast(u))
      .select(col("source"), col("n_tokens"),
        when(col("uncapped"), col("n_tokens"))
          .otherwise(
            expr("(budget - usum) DIV (nsrc - ucnt)") +
              when(col("idx") - col("ucnt")
                <= expr("(budget - usum) % (nsrc - ucnt)"), 1L).otherwise(0L))
          .as("allocation"),
        (!col("uncapped")).as("capped"))
      .orderBy("source")
  }

  /** Epoch cap for [[repeatPlan]] — the ~4-epoch knee past which
    * repeated data stops buying loss (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"). */
  val MaxEpochs = 4L

  /** Token budget for [[repeatPlan]] as a multiple of the unique
    * corpus — 2× forces genuine repetition decisions. */
  final val RepeatFactor = 2L

  /** `smp_repeat_plan`: data-constrained epoch allocation — when the
    * training token budget EXCEEDS the deduped corpus
    * ([[RepeatFactor]]× here), which sources get repeated, and how
    * many whole epochs each? Greedy by source quality: sources rank by
    * mean [[TextAnalysis.quality]] score (ties by name); each in rank
    * order takes up to [[MaxEpochs]] whole epochs of its own tokens
    * against the budget net of all better-ranked FULL wants
    * (`epochs_s = min(cap, max(0, B − W_{s−1}) DIV n_s)`): the source
    * the budget line lands in gets a partial epoch count, everything
    * ranked below it gets zero, and the boundary remainder is reported
    * unallocated rather than smeared as sub-epoch grants across the
    * low-quality tail. The repetition-side
    * complement of [[mixPlan]] (which LEVELS DOWN when the budget is
    * smaller than the corpus; this allocates REPEATS when it is
    * larger).
    *
    * ALL-INTEGER allocation: the ordering statistic is the one IEEE
    * division `qsum/1e6/n_docs` of an order-independent fixed-point
    * sum; wants/prefix/epochs are exact integers, so the plan is
    * bit-portable and oracle-checkable.
    *
    * Scale shape: the corpus collapses to the source catalog in one
    * partial-aggregating groupBy (quality scoring is txt_quality's
    * per-row pass); the prefix-want self-join and the 1-row budget
    * broadcast run on catalog-sized metadata. */
  def repeatPlan(spark: SparkSession, dir: String): DataFrame = {
    val st = TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .join(Tables.table(spark, dir, "documents").select("doc_id", "source"),
        "doc_id")
      .groupBy("source")
      .agg(sum(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_docs"),
        sum(floor(col("quality_score") * lit(1e6)).cast("long")).as("qsum"))
      .withColumn("avg_quality",
        col("qsum").cast("double") / lit(1e6) / col("n_docs"))
    val o = st.select(col("source").as("s2"), col("avg_quality").as("a2"),
      (col("n_tokens") * lit(MaxEpochs)).as("w2"))
    val pre = st
      .join(o, col("a2") > col("avg_quality") ||
        (col("a2") === col("avg_quality") && col("s2") < col("source")), "left")
      .groupBy("source", "n_tokens", "n_docs", "avg_quality")
      .agg(coalesce(sum(col("w2")), lit(0L)).as("prev_want"),
        (count(col("s2")) + 1).cast("int").as("q_rank"))
    val tot = st.agg((sum(col("n_tokens")) * lit(RepeatFactor)).as("budget"))
    pre.crossJoin(broadcast(tot))
      .withColumn("avail", greatest(col("budget") - col("prev_want"), lit(0L)))
      .withColumn("epochs",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(least(lit(MaxEpochs), expr("avail DIV n_tokens"))))
      .select(col("source"), col("q_rank"), col("avg_quality"),
        col("n_tokens"), col("epochs"),
        (col("epochs") * col("n_tokens")).as("tokens_used"))
      .orderBy("q_rank")
  }

  /** `smp_interleave`: deterministic round-robin source interleave —
    * a global training order that cycles sources (doc i of src0, doc i
    * of src1, …) with each source's own stream hash-shuffled. The
    * "don't feed 1M contiguous docs from one crawl" serving order for
    * multi-source training, complementing [[corpusShuffle]] (uniform
    * global) and [[curriculum]] (quality-major): `order_key =
    * (rank_within_source − 1) · #sources + source_index` is a total
    * order, collision-free by construction.
    *
    * Scale shape: the within-source rank is [[SkewUtils.groupRank]]
    * (range-partitioned global scan minus broadcast group offsets — a
    * mega-source splits across partitions instead of filling one
    * window task); the source index comes from a catalog-sized
    * self-join (no global window) broadcast back; emission is a
    * TeraSort-shape range sort on the computed key. */
  def interleave(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), portableHash(col("doc_id")).as("hk"))
    val srcs = d.select("source").distinct()
    val idx = srcs
      .join(srcs.select(col("source").as("s2")), col("s2") < col("source"), "left")
      .groupBy("source").agg(count(col("s2")).as("s_idx"))
    val nsrc = srcs.agg(count(lit(1)).as("nsrc"))
    SkewUtils.groupRank(d, "source", Seq(col("hk").asc, col("doc_id").asc), "rn")
      .join(broadcast(idx), "source")
      .crossJoin(broadcast(nsrc))
      .select(col("doc_id"), col("source"), col("rn").cast("long").as("rn"),
        ((col("rn") - 1).cast("long") * col("nsrc") + col("s_idx"))
          .as("order_key"))
      .orderBy("order_key")
  }

  // ---- deterministic corpus shuffle --------------------------------------

  /** Deterministic global training order: each document keyed by its
    * portable hash (a fixed pseudorandom permutation of sequential ids —
    * the multiplicative hash is a bijection mod 2^31) and range-sorted.
    * This is the TeraSort shape: sample-based range partitioning, fully
    * parallel, no single-partition stage, and bit-reproducible across
    * runs/cluster sizes — a resumable pre-training data order. */
  def corpusShuffle(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), portableHash(col("doc_id")).as("shuffle_key"))
      .orderBy("shuffle_key", "doc_id")

  /** `smp_curriculum`: deterministic curriculum ordering — emit the
    * corpus easiest-first for curriculum training: documents sort by
    * descending quality decile, hash-shuffled WITHIN each decile (so a
    * decile is consumed in uniform random order, not doc_id order, but
    * every re-run yields the identical sequence). The decile edge uses
    * FLOOR on the bit-deterministic quality double (the repo's
    * no-builtin-ROUND rule), so both engines bucket identically.
    *
    * Scale shape: one quality scan (pure per-row codegen) followed by a
    * global range sort — Spark samples partition boundaries and sorts
    * each range independently (the TeraSort shape); no global window,
    * no single-reducer stage. Balanced even when quality scores
    * MODE-CONCENTRATE (clip-capped corpora pile into one decile): the
    * range boundaries are sampled over the full (q_bucket,
    * shuffle_key, doc_id) tuple, so a heavy decile splits across
    * partitions on the hash key — asserted by CurationSpec's planted
    * 99%-one-decile test. */
  def curriculum(spark: SparkSession, dir: String): DataFrame =
    curriculumOf(TextAnalysis.quality(spark, dir)
      .select("doc_id", "quality_score"))

  def curriculumOf(q: DataFrame): DataFrame =
    q.select(col("doc_id"),
        floor(col("quality_score") * lit(10.0)).cast("int").as("q_bucket"))
      .withColumn("shuffle_key", portableHash(col("doc_id")))
      .orderBy(col("q_bucket").desc, col("shuffle_key"), col("doc_id"))

  // ---- z-order (Morton) layout key ---------------------------------------

  /** Bits per dimension of the z-order key (2 dims × 8 bits = 16-bit
    * interleave — 256 ranks per dimension is plenty for file-level
    * min/max skipping; file counts, not row counts, set the resolution). */
  val ZBits = 8

  /** Bit-interleave of two already-normalized ranks in pure integer
    * `DIV`/`%`/`*`/`+` arithmetic — no bitwise builtins, so the SAME
    * formula runs on any ANSI engine. `div` is the engine's integer
    * division token (Spark `DIV`, DuckDB `//`; identical on the
    * non-negative ranks). */
  private[graft] def mortonSql(u: String, v: String, div: String): String =
    (0 until ZBits).map { i =>
      s"((($u) $div ${1L << i}) % 2) * ${1L << (2 * i + 1)}" +
        s" + ((($v) $div ${1L << i}) % 2) * ${1L << (2 * i)}"
    }.mkString(" + ")

  /** Reference implementation on longs (unit/property-test oracle). */
  private[graft] def mortonRef(u: Long, v: Long): Long =
    (0 until ZBits).foldLeft(0L) { (acc, i) =>
      acc + ((u >> i) & 1L) * (1L << (2 * i + 1)) + ((v >> i) & 1L) * (1L << (2 * i))
    }

  /** Z-order layout key over events by (user_id, day): each dimension is
    * min/max-normalized to [0, 2^ZBits) and the ranks bit-interleaved,
    * so sorting by `zval` co-locates rows that are close in BOTH
    * dimensions. The 100-TB write path is
    * `repartitionByRange($"zval").sortWithinPartitions($"zval")` → every
    * file covers a small rectangle of (user, day) space and parquet
    * min/max stats skip files for predicates on EITHER column — the
    * standard multi-dimensional clustering trick a linear sort can't
    * give. The min/max normalizer is a 1-row aggregate broadcast back
    * (BroadcastNestedLoopJoin of one row, same shape as
    * `ath_product_analysis`); the interleave is pure per-row integer
    * arithmetic inside whole-stage codegen. */
  def zorderKey(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_id"), col("user_id"),
      expr(s"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) DIV 86400")
        .as("day"))
    val bounds = e.agg(
      min("user_id").as("min_u"), max("user_id").as("max_u"),
      min("day").as("min_d"), max("day").as("max_d"))
    val n = 1L << ZBits
    e.crossJoin(broadcast(bounds))
      .select(col("event_id"),
        expr(s"((user_id - min_u) * $n) DIV (max_u - min_u + 1)").as("u_n"),
        expr(s"((day - min_d) * $n) DIV (max_d - min_d + 1)").as("v_n"))
      .select(col("event_id"), expr(mortonSql("u_n", "v_n", "DIV")).as("zval"))
      .orderBy("zval", "event_id")
  }

  // ---- distributed sequence packing --------------------------------------

  /** Token budget of one packed training sequence. */
  val PackBudget = 256L

  /** Independent packer streams. Packing is inherently sequential
    * (next-fit state is non-associative), so parallelism comes from
    * hash-splitting the corpus into independent buckets — at 100 TB this
    * is thousands of buckets, one shuffle, and each group is consumed as
    * a streaming iterator (never materialized). */
  val PackBuckets = 8L

  private[graft] case class PackIn(bucket: Int, docId: Long, nTokens: Long)
  private[graft] case class PackOut(
    bucket: Int, packIdx: Int, packPos: Int, docId: Long, nTokens: Long)

  /** Pack documents into fixed-token-budget sequences (next-fit): within
    * each hash bucket documents are taken in doc_id order and appended to
    * the current pack until the next one would exceed [[PackBudget]],
    * which starts a new pack. The typed sorted-group pass is justified
    * here the same way the multimodal decoder seam is: the per-row state
    * machine cannot be expressed as an associative aggregate or window
    * frame, and everything around it (bucketing, sort, shuffle) stays
    * declarative. Deterministic: bucket and order depend only on doc_id. */
  def sequencePack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.table(spark, dir, "documents")
      .select(
        (portableHash(col("doc_id")) % PackBuckets).cast("int").as("bucket"),
        col("doc_id").as("docId"),
        size(split(col("text"), " ")).cast("long").as("nTokens"))
      .as[PackIn]
      .groupByKey(_.bucket)
      .flatMapSortedGroups($"docId") { (bucket: Int, docs: Iterator[PackIn]) =>
        var packIdx = 0; var packPos = 0; var cum = 0L
        docs.map { d =>
          if (packPos > 0 && cum + d.nTokens > PackBudget) {
            packIdx += 1; packPos = 0; cum = 0L
          }
          packPos += 1; cum += d.nTokens
          PackOut(bucket, packIdx, packPos, d.docId, d.nTokens)
        }
      }
      .toDF("bucket", "pack_idx", "pack_pos", "doc_id", "n_tokens")
      .orderBy("bucket", "pack_idx", "pack_pos")
  }

  // ---- composed corpus curation ------------------------------------------

  /** The end-to-end curation pass: keep documents that (a) pass quality
    * scoring, (b) are identified as English, and (c) are the canonical
    * copy of their exact-dup group. Composes [[TextAnalysis.quality]],
    * [[TextAnalysis.langId]] and the exact-dedup canonical set — three
    * corpus scans joined on doc_id (each scan is the operator's own
    * optimized plan; the joins are keyed equi-joins). */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    val canon = Tables.table(spark, dir, "documents")
      .groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    TextAnalysis.quality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"), col("passed"))
      .join(TextAnalysis.langId(spark, dir).select("doc_id", "pred_lang"), "doc_id")
      .join(canon, Seq("doc_id"), "left_semi")
      .where(col("passed") && col("pred_lang") === "en")
      .select(col("doc_id"), col("pred_lang"), col("n_tokens"), col("quality_score"))
      .orderBy("doc_id")
  }

  // ---- DSIR importance resampling ----------------------------------------

  /** Target domain and selection size for [[dsirResample]]. */
  val DsirTargetLang = "en"
  val DsirTopK = 100

  /** `smp_dsir`: data selection via importance resampling (the DSIR
    * recipe of Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling") — weight every document by how much more
    * likely its tokens are under the TARGET domain's unigram
    * distribution than under the raw corpus's, then keep the
    * top-[[DsirTopK]]. Here the target is the in-corpus `lang =
    * "en"` slice (in deployment: a small high-quality seed corpus).
    *
    * Per token, the add-one-smoothed likelihood ratio is
    * `((ct+1)/(Nt+V)) / ((cr+1)/(Nr+V))`; the document weight is the
    * MEAN ratio over its tokens rather than the log-sum — the same
    * no-transcendentals trade as [[TextAnalysis.lmScore]] (stays in
    * +,×,/ so Spark and DuckDB agree bitwise; ranks near-identically,
    * differing only in tail weighting). Every product here is an exact
    * integer below 2^53, so the doubles are exact and the division is
    * the one correctly-rounded step.
    *
    * Scale shape: one token explode feeds BOTH the count model and the
    * scoring stream (the model is a vocabulary-sized aggregate —
    * partial map-side — joined back by token); Nt/Nr/V are a broadcast
    * 1-row aggregate; the per-doc mean is a fixed-point decimal sum
    * (order-independent); selection is orderBy+limit =
    * TakeOrderedAndProject, never a global window. At 100 TB this is
    * two keyed shuffles of the token stream and a top-k — the same
    * cost as one n-gram df pass. */
  def dsirResample(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), (col("lang") === DsirTargetLang).as("is_tgt"),
        explode(split(col("text"), " ")).as("token"))
    val model = toks.groupBy("token").agg(
      count(lit(1)).as("cr"),
      count(when(col("is_tgt"), lit(1))).as("ct"))
    val totals = model.agg(
      sum("cr").as("nr"), sum("ct").as("nt"), count(lit(1)).as("v"))
    val scale = TextAnalysis.LmScale.toDouble
    toks.join(model, "token")
      .crossJoin(broadcast(totals))
      .select(col("doc_id"),
        (((col("ct").cast("double") + lit(1.0))
          * (col("nr").cast("double") + col("v").cast("double")))
          / ((col("cr").cast("double") + lit(1.0))
            * (col("nt").cast("double") + col("v").cast("double")))).as("r"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(floor(col("r") * lit(scale)).cast(DecimalType(38, 0))).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        (col("s").cast("double") / lit(scale) / col("n_tokens")).as("dsir_w"))
      .orderBy(col("dsir_w").desc, col("doc_id"))
      .limit(DsirTopK)
  }

  // ---- oracles -----------------------------------------------------------

  /** CTE chain ending in `asg(doc_id, cluster_id)` — the recursive
    * transitive-closure resolution of the n-gram-Jaccard near-dup
    * pairs. Shared by the components and canonical-selection oracles. */
  private[operators] val componentsCtes: String =
    s"""${Dedup.ngramPairCtes},
       |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(u, r) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT e.v, reach.r FROM edges e JOIN reach ON e.u = reach.u),
       |lbl AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
       |asg AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       |        FROM documents d LEFT JOIN lbl l USING (doc_id))""".stripMargin

  /** Shared by dd_components and dd_components_star: both operators
    * reach the same fixpoint (smallest doc_id per component), so one
    * recursive-CTE oracle proves both. */
  private val componentsOracleSql: String =
    s"""WITH RECURSIVE $componentsCtes
       |SELECT doc_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |       doc_id = cluster_id AS is_canonical
       |FROM asg ORDER BY doc_id""".stripMargin

  /** Candidates drawn per customer by [[negativeSampling]]. */
  val NegK = 4

  /** `smp_negative_sampling`: deterministic negative sampling for
    * contrastive / recommendation training — per customer, [[NegK]]
    * pseudo-random candidate products drawn by the portable hash, with
    * every actually-purchased pair anti-joined out. Membership depends
    * only on (customer_id, slot), so re-runs and backfills regenerate
    * the identical negative set (the [[trainValTestSplit]] stability
    * contract, applied to pair sampling).
    *
    * Scale shape: candidates are generated MAP-SIDE from the customer
    * key set (explode of a NegK-element sequence — no shuffle), the
    * catalog size rides a broadcast 1-row aggregate, and the only
    * exchange is the anti-join keyed on (customer, product) against
    * the distinct purchase pairs — K·|customers| rows, never
    * |customers|×|catalog|. */
  def negativeSampling(spark: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.sales(spark, dir)
      .select(col("customer_id"), col("product_id")).distinct()
    val customers = purchases.select("customer_id").distinct()
    val np = Tables.products(spark, dir).agg(count(lit(1)).as("n_products"))
    val cands = customers.crossJoin(broadcast(np))
      .select(col("customer_id"), col("n_products"),
        explode(sequence(lit(0L), lit(NegK - 1L))).as("cand_idx"))
      .select(col("customer_id"), col("cand_idx"),
        (portableHash(col("customer_id") * NegK + col("cand_idx"))
          % col("n_products")).as("product_id"))
    cands.join(purchases, Seq("customer_id", "product_id"), "left_anti")
      .select("customer_id", "cand_idx", "product_id")
      .orderBy("customer_id", "cand_idx")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("smp_trust_weighted", trustWeighted,
      s"""WITH ${Graph.hostTrustCte},
         |dw AS (SELECT doc_id, doc_id % ${Url.HostMod} AS host_id
         |       FROM documents),
         |j AS (SELECT dw.doc_id, ht.host_id, ht.host, ht.pagerank,
         |             ht.spam_mass,
         |             ht.pagerank * LEAST(CAST(1 AS DOUBLE),
         |               GREATEST(CAST(0 AS DOUBLE),
         |                 CAST(1 AS DOUBLE) - ht.spam_mass)) AS prior
         |      FROM dw JOIN ht USING (host_id)),
         |t AS (SELECT SUM(CAST(FLOOR(prior * ${Graph.PrScale})
         |                 AS DECIMAL(38,0))) AS s
         |      FROM j)
         |SELECT doc_id, host_id, host, pagerank AS host_rank, spam_mass,
         |       spam_mass > $SpamMassDemote AS demoted, prior,
         |       prior / (CAST(s AS DOUBLE) / ${Graph.PrScale}) AS weight,
         |       (prior / (CAST(s AS DOUBLE) / ${Graph.PrScale}))
         |         * $HostSampleBudget AS expected_picks
         |FROM j, t ORDER BY doc_id""".stripMargin),
    QueryDef("smp_host_weighted", hostWeighted,
      s"""WITH ${Graph.hostRankCte},
         |dw AS (SELECT doc_id, doc_id % ${Url.HostMod} AS host_id
         |       FROM documents),
         |j AS (SELECT dw.doc_id, dw.host_id, hostpr.host, hostpr.pagerank
         |      FROM dw JOIN hostpr USING (host_id)),
         |t AS (SELECT SUM(CAST(FLOOR(pagerank * ${Graph.PrScale})
         |                 AS DECIMAL(38,0))) AS s
         |      FROM j)
         |SELECT doc_id, host_id, host, pagerank AS host_rank,
         |       pagerank / (CAST(s AS DOUBLE) / ${Graph.PrScale}) AS weight,
         |       (pagerank / (CAST(s AS DOUBLE) / ${Graph.PrScale}))
         |         * ${HostSampleBudget} AS expected_picks
         |FROM j, t ORDER BY doc_id""".stripMargin),
    QueryDef("smp_interleave", interleave,
      s"""WITH d AS (SELECT doc_id, source,
         |             ${portableHashSql("doc_id")} AS hk
         |           FROM documents),
         |i AS (SELECT source,
         |             CAST(DENSE_RANK() OVER (ORDER BY source) - 1 AS BIGINT)
         |               AS s_idx,
         |             CAST(COUNT(*) OVER () AS BIGINT) AS nsrc
         |      FROM (SELECT DISTINCT source FROM d)),
         |r AS (SELECT doc_id, d.source,
         |             CAST(ROW_NUMBER() OVER (PARTITION BY d.source
         |               ORDER BY hk, doc_id) AS BIGINT) AS rn,
         |             s_idx, nsrc
         |      FROM d JOIN i ON d.source = i.source)
         |SELECT doc_id, source, rn, (rn - 1) * nsrc + s_idx AS order_key
         |FROM r ORDER BY order_key""".stripMargin),
    QueryDef("smp_mix_plan", mixPlan,
      """WITH t AS (SELECT source,
        |             CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY 1),
        |o AS (SELECT source, n_tokens,
        |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY n_tokens, source
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS prevcum,
        |        ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS idx,
        |        CAST(COUNT(*) OVER () AS BIGINT) AS nsrc,
        |        CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
        |      FROM t),
        |f AS (SELECT *, total // 2 AS budget,
        |        n_tokens * (nsrc - idx + 1) <= total // 2 - prevcum AS uncapped
        |      FROM o),
        |u AS (SELECT CAST(COALESCE(SUM(CASE WHEN uncapped THEN n_tokens END), 0)
        |               AS BIGINT) AS usum,
        |             CAST(COALESCE(SUM(CASE WHEN uncapped THEN 1 ELSE 0 END), 0)
        |               AS BIGINT) AS ucnt
        |      FROM f)
        |SELECT source, n_tokens,
        |       CAST(CASE WHEN uncapped THEN n_tokens
        |            ELSE (budget - usum) // (nsrc - ucnt)
        |                 + CASE WHEN idx - ucnt <= (budget - usum) % (nsrc - ucnt)
        |                        THEN 1 ELSE 0 END
        |       END AS BIGINT) AS allocation,
        |       NOT uncapped AS capped
        |FROM f, u ORDER BY source""".stripMargin),
    QueryDef("smp_negative_sampling", negativeSampling,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |p AS (SELECT DISTINCT customer_id, product_id FROM sales),
         |cust AS (SELECT DISTINCT customer_id FROM p),
         |np AS (SELECT COUNT(*) AS n_products FROM products),
         |cands AS (
         |  SELECT customer_id, i.cand_idx,
         |         ${portableHashSql(s"customer_id*$NegK + i.cand_idx")}
         |           % n_products AS product_id
         |  FROM cust, np,
         |       (SELECT unnest(generate_series(0, ${NegK - 1})) AS cand_idx) i)
         |SELECT c.customer_id, c.cand_idx, c.product_id
         |FROM cands c
         |WHERE NOT EXISTS (SELECT 1 FROM p
         |                  WHERE p.customer_id = c.customer_id
         |                    AND p.product_id = c.product_id)
         |ORDER BY c.customer_id, c.cand_idx""".stripMargin),
    QueryDef("smp_shard", shardReport,
      s"""SELECT ${portableHashSql("doc_id")} % $ShardCount AS shard,
         |       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("smp_split", trainValTestSplit,
      s"""SELECT doc_id,
         |       ${portableHashSql("doc_id")} % 100 AS bucket,
         |       CASE WHEN ${portableHashSql("doc_id")} % 100 < $TrainPct THEN 'train'
         |            WHEN ${portableHashSql("doc_id")} % 100 < ${TrainPct + ValPct} THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("smp_stratified", stratifiedSample,
      s"""WITH h AS (
         |  SELECT event_type, event_id,
         |         ${portableHashSql("event_id")} AS hk
         |  FROM events),
         |r AS (
         |  SELECT event_type, event_id,
         |         ROW_NUMBER() OVER (PARTITION BY event_type
         |           ORDER BY hk, event_id) AS rn
         |  FROM h)
         |SELECT event_type, CAST(rn AS INT) AS rn, event_id
         |FROM r WHERE rn <= $StratumSampleK
         |ORDER BY event_type, rn""".stripMargin),
    QueryDef("smp_kfold", kfoldAssign,
      s"""WITH RECURSIVE $componentsCtes
         |SELECT doc_id, cluster_id,
         |       ${portableHashSql("cluster_id")} % $KFolds AS fold
         |FROM asg ORDER BY doc_id""".stripMargin),
    QueryDef("smp_leakage_split", leakageSafeSplit,
      s"""WITH RECURSIVE $componentsCtes
         |SELECT doc_id, cluster_id,
         |       ${portableHashSql("cluster_id")} % 100 AS bucket,
         |       CASE WHEN ${portableHashSql("cluster_id")} % 100 < $TrainPct THEN 'train'
         |            WHEN ${portableHashSql("cluster_id")} % 100 < ${TrainPct + ValPct} THEN 'val'
         |            ELSE 'test' END AS split
         |FROM asg ORDER BY doc_id""".stripMargin),
    QueryDef("smp_token_budget", tokenBudgetSelect,
      s"""WITH q AS (SELECT * FROM (${QueryDef.oracleOf(TextAnalysis.defs, "txt_quality")})),
         |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) // 2 AS budget FROM q),
         |c AS (SELECT doc_id, n_tokens, quality_score,
         |             CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id)
         |                  AS BIGINT) AS cum_tokens
         |      FROM q)
         |SELECT doc_id, n_tokens, quality_score, cum_tokens
         |FROM c, tot WHERE cum_tokens <= budget ORDER BY doc_id""".stripMargin),
    QueryDef("dd_components", dedupComponents, componentsOracleSql),
    QueryDef("dd_components_star", dedupComponentsStar, componentsOracleSql),
    QueryDef("dd_weights", dedupWeights,
      s"""WITH RECURSIVE $componentsCtes,
         |sized AS (SELECT doc_id, cluster_id,
         |            COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |          FROM asg)
         |SELECT doc_id, cluster_id,
         |       CAST(cluster_size AS BIGINT) AS cluster_size,
         |       CAST(1.0 AS DOUBLE)/cluster_size AS weight
         |FROM sized ORDER BY doc_id""".stripMargin),
    QueryDef("dd_cluster_stats", clusterStats,
      s"""WITH RECURSIVE $componentsCtes,
         |sized AS (SELECT cluster_id, COUNT(*) AS cluster_size
         |          FROM asg GROUP BY 1)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
         |FROM sized GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("dd_canonical", canonicalByQuality,
      s"""WITH RECURSIVE $componentsCtes,
         |q AS (SELECT * FROM (${QueryDef.oracleOf(TextAnalysis.defs, "txt_quality")})),
         |ranked AS (
         |  SELECT a.doc_id, a.cluster_id, q.quality_score,
         |         ROW_NUMBER() OVER (PARTITION BY a.cluster_id
         |           ORDER BY q.quality_score DESC, a.doc_id) AS rn
         |  FROM asg a JOIN q ON a.doc_id = q.doc_id)
         |SELECT doc_id, cluster_id, quality_score, rn = 1 AS is_canonical
         |FROM ranked ORDER BY doc_id""".stripMargin),
    QueryDef("smp_temperature", temperatureSample,
      s"""WITH d AS (SELECT doc_id, source,
         |                  ${portableHashSql("doc_id")} AS hk
         |           FROM documents),
         |st AS (SELECT source, COUNT(*) AS n_s,
         |              CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))
         |                         * $TemperatureScale.0) AS BIGINT) AS qs
         |       FROM d GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_total,
         |               CAST(SUM(qs) AS BIGINT) AS s_q FROM st),
         |al AS (SELECT source, ((n_total // 2) * qs) // s_q AS alloc
         |       FROM st, tot),
         |r AS (SELECT source, doc_id,
         |             ROW_NUMBER() OVER (PARTITION BY source
         |               ORDER BY hk, doc_id) AS rn
         |      FROM d)
         |SELECT r.source, CAST(rn AS INT) AS rn, doc_id
         |FROM r JOIN al USING (source) WHERE rn <= alloc
         |ORDER BY source, rn""".stripMargin),
    QueryDef("smp_mix_report", mixReport, {
      val wValues = MixWeightsMilli
        .map { case (l, w) => s"('$l',${w}::BIGINT)" }.mkString(", ")
      s"""WITH w(lang, w_milli) AS (VALUES $wValues),
         |d AS (SELECT doc_id, docs.lang,
         |             COALESCE(w.w_milli, $DefaultMixMilli) AS wm
         |      FROM documents docs LEFT JOIN w USING (lang)),
         |e AS (SELECT doc_id, lang, wm,
         |             wm // 1000 + CASE WHEN ${portableHashSql("doc_id")} % 1000
         |                                    < wm % 1000 THEN 1 ELSE 0 END AS n_epochs
         |      FROM d)
         |SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_epochs) AS BIGINT) AS n_mix_rows,
         |       CAST(MAX(wm) AS BIGINT) AS target_milli,
         |       CAST(CAST(SUM(n_epochs) AS BIGINT) * 1000 // COUNT(*) AS BIGINT)
         |         AS realized_milli
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    QueryDef("smp_weighted", weightedMix, {
      val wValues = MixWeightsMilli
        .map { case (l, w) => s"('$l',${w}::BIGINT)" }.mkString(", ")
      s"""WITH w(lang, w_milli) AS (VALUES $wValues),
         |d AS (SELECT doc_id, docs.lang,
         |             COALESCE(w.w_milli, $DefaultMixMilli) AS wm
         |      FROM documents docs LEFT JOIN w USING (lang)),
         |e AS (SELECT doc_id, lang,
         |             wm // 1000 + CASE WHEN ${portableHashSql("doc_id")} % 1000
         |                                    < wm % 1000 THEN 1 ELSE 0 END AS n_epochs
         |      FROM d)
         |SELECT doc_id, lang, unnest(generate_series(1, n_epochs)) AS epoch
         |FROM e ORDER BY doc_id, epoch""".stripMargin
    }),
    QueryDef("smp_shuffle", corpusShuffle,
      s"""SELECT doc_id, ${portableHashSql("doc_id")} AS shuffle_key
         |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin),
    QueryDef("smp_zorder", zorderKey,
      s"""WITH e AS (
         |  SELECT event_id, user_id,
         |         CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day
         |  FROM events),
         |m AS (SELECT MIN(user_id) AS min_u, MAX(user_id) AS max_u,
         |             MIN(day) AS min_d, MAX(day) AS max_d FROM e),
         |r AS (
         |  SELECT event_id,
         |         ((user_id - min_u) * ${1L << ZBits}) // (max_u - min_u + 1) AS u_n,
         |         ((day - min_d) * ${1L << ZBits}) // (max_d - min_d + 1) AS v_n
         |  FROM e, m)
         |SELECT event_id, ${mortonSql("u_n", "v_n", "//")} AS zval
         |FROM r ORDER BY zval, event_id""".stripMargin),
    QueryDef("smp_pack", sequencePack,
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id,
         |         CAST((${portableHashSql("doc_id")}) % $PackBuckets AS INT) AS bucket,
         |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |ord AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
         |                                     ORDER BY doc_id) AS rn FROM base),
         |state(bucket, rn, doc_id, n_tokens, pack_idx, pack_pos, cum) AS (
         |  SELECT bucket, rn, doc_id, n_tokens, 0, 1, n_tokens
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
         |         CASE WHEN s.cum + o.n_tokens > $PackBudget
         |              THEN s.pack_idx + 1 ELSE s.pack_idx END,
         |         CASE WHEN s.cum + o.n_tokens > $PackBudget
         |              THEN 1 ELSE s.pack_pos + 1 END,
         |         CASE WHEN s.cum + o.n_tokens > $PackBudget
         |              THEN o.n_tokens ELSE s.cum + o.n_tokens END
         |  FROM state s JOIN ord o ON o.bucket = s.bucket AND o.rn = s.rn + 1)
         |SELECT bucket, CAST(pack_idx AS INT) AS pack_idx,
         |       CAST(pack_pos AS INT) AS pack_pos, doc_id, n_tokens
         |FROM state ORDER BY bucket, pack_idx, pack_pos""".stripMargin),
    QueryDef("smp_repeat_plan", repeatPlan,
      s"""WITH q AS (SELECT * FROM (${QueryDef.oracleOf(TextAnalysis.defs, "txt_quality")})),
         |st AS (SELECT d.source,
         |              CAST(SUM(q.n_tokens) AS BIGINT) AS n_tokens,
         |              CAST(COUNT(*) AS BIGINT) AS n_docs,
         |              CAST(SUM(CAST(FLOOR(q.quality_score * 1e6) AS BIGINT))
         |                AS BIGINT) AS qsum
         |       FROM q JOIN documents d USING (doc_id) GROUP BY 1),
         |sa AS (SELECT *, CAST(qsum AS DOUBLE) / 1e6 / n_docs AS avg_quality
         |       FROM st),
         |pre AS (SELECT a.source, a.n_tokens, a.n_docs, a.avg_quality,
         |               CAST(COALESCE(SUM(b.n_tokens * $MaxEpochs), 0)
         |                 AS BIGINT) AS prev_want,
         |               CAST(1 + COUNT(b.source) AS INT) AS q_rank
         |        FROM sa a LEFT JOIN sa b
         |          ON b.avg_quality > a.avg_quality
         |             OR (b.avg_quality = a.avg_quality AND b.source < a.source)
         |        GROUP BY 1, 2, 3, 4),
         |tot AS (SELECT CAST(SUM(n_tokens) * $RepeatFactor AS BIGINT) AS budget
         |        FROM st),
         |fin AS (SELECT p.*, GREATEST(budget - prev_want, 0) AS avail
         |        FROM pre p, tot),
         |ep AS (SELECT *, CASE WHEN n_tokens = 0 THEN 0
         |              ELSE LEAST($MaxEpochs, avail // n_tokens) END AS epochs
         |       FROM fin)
         |SELECT source, q_rank, avg_quality, n_tokens,
         |       CAST(epochs AS BIGINT) AS epochs,
         |       CAST(epochs * n_tokens AS BIGINT) AS tokens_used
         |FROM ep ORDER BY q_rank""".stripMargin),
    QueryDef("smp_curriculum", curriculum,
      s"""WITH q AS (SELECT * FROM (${QueryDef.oracleOf(TextAnalysis.defs, "txt_quality")}))
         |SELECT doc_id, CAST(FLOOR(quality_score * 10.0) AS INT) AS q_bucket,
         |       ${portableHashSql("doc_id")} AS shuffle_key
         |FROM q
         |ORDER BY q_bucket DESC, shuffle_key, doc_id""".stripMargin),
    QueryDef("smp_dsir", dsirResample,
      s"""WITH toks AS (
         |  SELECT doc_id, lang = '$DsirTargetLang' AS is_tgt,
         |         unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |model AS (SELECT token, COUNT(*) AS cr,
         |                 COUNT(*) FILTER (WHERE is_tgt) AS ct
         |          FROM toks GROUP BY 1),
         |tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt, COUNT(*) AS v
         |        FROM model),
         |r AS (SELECT doc_id,
         |             ((CAST(ct AS DOUBLE) + 1.0)
         |               * (CAST(nr AS DOUBLE) + CAST(v AS DOUBLE)))
         |             / ((CAST(cr AS DOUBLE) + 1.0)
         |               * (CAST(nt AS DOUBLE) + CAST(v AS DOUBLE))) AS r
         |      FROM toks JOIN model USING (token) CROSS JOIN tot)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |       CAST(SUM(CAST(FLOOR(r * ${TextAnalysis.LmScale})
         |                     AS DECIMAL(38,0))) AS DOUBLE)
         |         / ${TextAnalysis.LmScale} / COUNT(*) AS dsir_w
         |FROM r GROUP BY 1
         |ORDER BY dsir_w DESC, doc_id LIMIT $DsirTopK""".stripMargin),
    QueryDef("txt_curate", curate,
      s"""WITH q AS (SELECT * FROM (${QueryDef.oracleOf(TextAnalysis.defs, "txt_quality")})),
         |l AS (SELECT * FROM (${QueryDef.oracleOf(TextAnalysis.defs, "txt_lang_id")})),
         |canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text))
         |SELECT q.doc_id, l.pred_lang, q.n_tokens, q.quality_score
         |FROM q JOIN l ON q.doc_id = l.doc_id
         |WHERE q.passed AND l.pred_lang = 'en'
         |  AND q.doc_id IN (SELECT doc_id FROM canon)
         |ORDER BY q.doc_id""".stripMargin))

  /** Sample budget `smp_host_weighted` sizes expected picks against. */
  val HostSampleBudget = 1000.0

  /** Spam-mass level above which `smp_trust_weighted` flags a host
    * demoted (Gyöngyi et al. §6 threshold the ops report reads). */
  val SpamMassDemote = 0.5

  /** `smp_trust_weighted`: quality×trust 2-D sampling weights — the
    * host-prior sampler ([[hostWeighted]]) composed with the spam
    * screen ([[Graph.hostTrust]]): each document's prior is its host's
    * PageRank DAMPED by endorsement, `pagerank · clamp(1 − spam_mass,
    * 0, 1)` — a high-rank host whose rank is farm-built (spam mass ≈ 1)
    * contributes ~nothing, a fully-endorsed host keeps its whole rank
    * (for seeds spam mass goes ≤ 0 and the clamp caps the factor at 1,
    * so trust can never EXCEED rank as a prior). One row per document:
    * rank, spam mass, the demotion flag at [[SpamMassDemote]], the
    * composed prior, the normalized weight and expected picks at the
    * [[HostSampleBudget]] draw.
    *
    * Determinism: the two ranks share one fixed-round recursion
    * artifact; the normalizer is the fixed-point FLOOR-to-DECIMAL sum
    * (the [[hostWeighted]] discipline). Scale shape: host catalog
    * broadcast onto the partitioned corpus, 1-row broadcast
    * normalizer, per-row arithmetic. */
  def trustWeighted(spark: SparkSession, dir: String): DataFrame = {
    val ht = Graph.hostTrust(spark, dir)
      .select(col("host_id"), col("host"), col("pagerank"), col("spam_mass"),
        (col("pagerank") * least(lit(1.0),
          greatest(lit(0.0), lit(1.0) - col("spam_mass")))).as("prior"))
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % Url.HostMod).as("host_id"))
    val joined = docs.join(broadcast(ht), "host_id")
    val tot = joined.agg(
      sum(floor(col("prior") * lit(Graph.PrScale))
        .cast(DecimalType(38, 0))).as("s"))
    val weight = col("prior") /
      (col("s").cast("double") / lit(Graph.PrScale.toDouble))
    joined.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("host_id"), col("host"),
        col("pagerank").as("host_rank"), col("spam_mass"),
        (col("spam_mass") > lit(SpamMassDemote)).as("demoted"),
        col("prior"),
        weight.as("weight"),
        (weight * lit(HostSampleBudget)).as("expected_picks"))
      .orderBy("doc_id")
  }

  /** `smp_host_weighted`: host-prior sampling weights — each document's
    * sampling weight proportional to its HOST's link-graph PageRank
    * ([[Graph.hostRank]]): the crawl-quality prior (CCNet/RefinedWeb
    * class) applied where it acts, upstream of content scoring — pages
    * on well-endorsed hosts are upsampled before any per-document
    * signal is spent on them. One row per document: host, host rank,
    * normalized weight (rank / Σ over DOCUMENTS of their host's rank)
    * and expected picks at a [[HostSampleBudget]]-document draw.
    *
    * Determinism: the normalizer sums 5k+ doubles, so it goes through
    * the fixed-point FLOOR at [[Graph.PrScale]] into DECIMAL (the
    * pagerank discipline) — summation order can't move the hash.
    * Scale shape: the host table is metadata-sized → broadcast join
    * onto the partitioned corpus; the normalizer is a broadcast 1-row
    * aggregate; everything else is per-row arithmetic. */
  def hostWeighted(spark: SparkSession, dir: String): DataFrame = {
    val hr = Graph.hostRank(spark, dir)
      .select(col("host_id"), col("host"), col("pagerank"))
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % Url.HostMod).as("host_id"))
    val joined = docs.join(broadcast(hr), "host_id")
    val tot = joined.agg(
      sum(floor(col("pagerank") * lit(Graph.PrScale))
        .cast(DecimalType(38, 0))).as("s"))
    val weight = col("pagerank") /
      (col("s").cast("double") / lit(Graph.PrScale.toDouble))
    joined.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("host_id"), col("host"),
        col("pagerank").as("host_rank"),
        weight.as("weight"),
        (weight * lit(HostSampleBudget)).as("expected_picks"))
      .orderBy("doc_id")
  }
}
