package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{RollingHash, Shingles}
import graft.sources.Tables

/** Deduplication operators over `documents` (and `embeddings` for the
  * embedding-space variant). The 100 TB contract: NOTHING here compares
  * all pairs — candidates always come from an equi-join on a bucket key
  * (shingle, LSH band signature, SimHash block, hyperplane bucket), so
  * the shuffle is keyed and bucket-local, and pairwise work is bounded
  * by bucket size.
  */
object Dedup {

  val JaccardThreshold = 0.8

  /** Exact dedup: content-hash groupBy (never dropDuplicates on raw
    * text — hashing first keeps the shuffle rows tiny at 100 TB). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_doc_id"))
      .orderBy("content_hash")

  /** (doc_id, shingle) pairs — distinct 3-word shingles per doc
    * (native codegen shingling; the interpreted HOF version is the
    * reference semantics, asserted equal in DedupSpec). */
  private def shingleSetsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(Shingles.wordShinglesNative(col("text"), 3)).as("shingle"))

  private def shingleSets(spark: SparkSession, dir: String): DataFrame =
    shingleSetsOf(Tables.table(spark, dir, "documents"))

  /** Shingle sets with the per-doc set size riding along (window count
    * instead of a separate aggregate — halves the scans of the corpus:
    * the jaccard join then needs no extra size joins). */
  private def shingleSetsWithSizeOf(docs: DataFrame): DataFrame =
    shingleSetsOf(docs).withColumn("n_sh",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))

  private def shingleSetsWithSize(spark: SparkSession, dir: String): DataFrame =
    shingleSetsWithSizeOf(Tables.table(spark, dir, "documents"))

  /** Jaccard ≥ threshold from per-pair intersection counts
    * (a_id, b_id, n_a, n_b, inter). */
  private def jaccardFromInter(inter: DataFrame): DataFrame =
    inter
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= JaccardThreshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy("a_id", "b_id")

  /** Exact Jaccard ≥ threshold over candidate (a,b) doc pairs carrying
    * their set sizes: |A∩B| from one count per pair. */
  private def jaccardFilter(pairsWithSizes: DataFrame): DataFrame =
    jaccardFromInter(
      pairsWithSizes.groupBy("a_id", "b_id", "n_a", "n_b")
        .agg(count(lit(1)).as("inter")))

  /** Candidate-generation guard: shingles appearing in more documents
    * than this never join on their own key — candidate pairs come only
    * from allowed (df ≤ cap) shingles, and banned shingles re-enter the
    * intersection count through a per-pair correction term (so reported
    * jaccard stays EXACT; precision stays 1). At 100 TB a boilerplate
    * shingle ("terms of service") otherwise creates a df² quadratic
    * bucket in the equi-join; capping df bounds any bucket's pair count
    * at ~10⁶. Two ≥0.8-Jaccard near-dups share far more than their
    * capped shingles, so recall loss needs a pair whose EVERY shared
    * shingle is corpus-boilerplate — in practice none (and provably
    * none at the tested scale factors, where max df is 25). */
  val ShingleDfCap = 1000L

  /** Exact Jaccard verification for a candidate (a_id, b_id) pair set:
    * narrow the shingle table to candidate docs (semi-join — at scale
    * the candidate set is tiny next to the corpus), then self-join the
    * narrowed sets on shingle and count intersections over the FULL
    * sets. Shared by the n-gram and MinHash+LSH paths, so every
    * candidate generator gets precision 1 (verification is exact), and
    * recall ≥ the generator's (any ≥threshold pair among candidate docs
    * is found, even if the generator missed the pair itself).
    *
    * Deliberately NOT `cand ⋈ shingles(a) ⋈ shingles(b)`: that
    * intermediate is |cand|·|set(a)| rows (pairs × full shingle sets —
    * ~50× the pair count) before the b-side filters; the restricted
    * self-join only ever materializes one row per SHARED shingle. */
  private def verifyCandidates(spark: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    val candDocs = cand.select(col("a_id").as("doc_id"))
      .unionAll(cand.select(col("b_id").as("doc_id"))).distinct()
    val shS = shingleSetsWithSize(spark, dir)
      .join(candDocs, Seq("doc_id"), "left_semi")
    jaccardFilter(
      shS.select(col("doc_id").as("a_id"), col("n_sh").as("n_a"), col("shingle"))
        .join(shS.select(col("doc_id").as("b_id"), col("n_sh").as("n_b"), col("shingle")),
          Seq("shingle"))
        .where(col("a_id") < col("b_id")))
  }

  /** Near-dup pairs by exact n-gram Jaccard: ONE self-join on df-capped
    * shingles produces both the candidate pairs and their allowed-shingle
    * intersection counts; shared BANNED shingles are then added back
    * exactly per candidate pair. No separate verification pass — the
    * capped join IS the verification over allowed shingles, and the
    * correction term restores full-set exactness.
    *
    * The (tiny, threshold-filtered) pair list is a TRAINED ARTIFACT:
    * derived once per corpus per session ([[ArtifactCache]] — the IVF
    * codebook contract), because it seeds the shared cluster map
    * ([[Curation.clusterMap]]) and the [[methodReport]] audit besides
    * its own query key. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "dd_ngram_pairs")(
      ngramJaccardCapped(spark, dir, ShingleDfCap))

  def ngramJaccardCapped(spark: SparkSession, dir: String,
      dfCap: Long): DataFrame =
    jaccardFromInter(pairIntersections(spark, dir, dfCap))

  /** Exact (a_id, b_id, n_a, n_b, inter) for every doc pair sharing at
    * least one allowed (df ≤ cap) shingle — the shared candidate+count
    * kernel of [[ngramJaccardCapped]] and [[containment]]. The banned-
    * shingle correction restores full-set intersection counts, so
    * `inter` is exact over the COMPLETE shingle sets; only pairs whose
    * every shared shingle is corpus-boilerplate can be absent (none at
    * the verified scale factors — the df-cap precondition assert). */
  private def pairIntersections(spark: SparkSession, dir: String,
      dfCap: Long): DataFrame = {
    val sh = shingleSets(spark, dir)
    // Ban-list anti-join, NOT a df window: the banned set is tiny by
    // construction (≤ shingleRows/dfCap), the groupBy partial-aggregates
    // map-side, and an empty/small ban list lets AQE broadcast or drop
    // the anti-join — a count().over(partitionBy(shingle)) here costs a
    // full sort-exchange of every shingle row on EVERY recomputation of
    // this subtree (it appears on both join sides).
    val banned = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") > dfCap).select("shingle")
    // full set sizes ride along BEFORE the ban filter — jaccard's
    // denominator needs |A|, |B| over the FULL sets
    val allowed = shingleSetsWithSize(spark, dir)
      .join(banned, Seq("shingle"), "left_anti")
    val interAllowed = allowed
      .select(col("doc_id").as("a_id"), col("n_sh").as("n_a"), col("shingle"))
      .join(allowed.select(col("doc_id").as("b_id"), col("n_sh").as("n_b"), col("shingle")),
        Seq("shingle"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "n_a", "n_b")
      .agg(count(lit(1)).as("inter_allowed"))
    // exact correction: shared banned shingles, counted for candidate
    // pairs only — |cand| × banned-shingles-per-doc rows, never a df²
    // banned bucket (the banned side is keyed by doc_id, not shingle)
    val bannedRows = sh.join(banned, Seq("shingle"), "left_semi")
    val interBanned = interAllowed.select("a_id", "b_id")
      .join(bannedRows.select(col("doc_id").as("a_id"), col("shingle")), "a_id")
      .join(bannedRows.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("shingle", "b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter_banned"))
    interAllowed.join(interBanned, Seq("a_id", "b_id"), "left")
      .withColumn("inter",
        col("inter_allowed") + coalesce(col("inter_banned"), lit(0L)))
      .select("a_id", "b_id", "n_a", "n_b", "inter")
  }

  /** Containment floor: the smaller set must sit ≥ this fraction inside
    * the larger one. */
  val ContainmentThreshold = 0.9
  /** Ignore near-empty shingle sets (a 1-shingle doc is "contained"
    * everywhere its one shingle appears — noise, not duplication). */
  val ContainMinShingles = 5L

  /** `dd_containment`: asymmetric near-dup pairs by exact n-gram
    * CONTAINMENT — |A∩B| / min(|A|,|B|) ≥ [[ContainmentThreshold]].
    * Jaccard misses the snippet-in-document case (a quoted excerpt,
    * a boilerplate-wrapped article): a 50-shingle doc fully inside a
    * 1000-shingle doc has Jaccard 0.05 but containment 1.0. This is the
    * Broder containment dual of [[ngramJaccard]], the signal behind
    * sub/superset-aware canonicalization in crawl dedup.
    *
    * Same single df-capped self-join as the Jaccard path (the shared
    * [[pairIntersections]] kernel — one candidate pass serves both
    * thresholds), same exact banned-shingle correction, so the reported
    * containment is exact over the full shingle sets. Cached per corpus
    * per session like [[ngramJaccard]] (the [[methodReport]] audit
    * re-reads it). */
  def containment(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "dd_containment_pairs")(
      containmentDerive(spark, dir))

  private def containmentDerive(spark: SparkSession, dir: String): DataFrame =
    pairIntersections(spark, dir, ShingleDfCap)
      .withColumn("containment",
        col("inter") * lit(1.0) / least(col("n_a"), col("n_b")))
      .where(col("containment") >= ContainmentThreshold &&
        least(col("n_a"), col("n_b")) >= ContainMinShingles)
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
        col("containment"))
      .orderBy("a_id", "b_id")

  /** `dd_contam_report`: per-source contamination triage — the
    * [[decontam]] doc-level flags rolled up to the SOURCE granularity
    * (which crawl/feed is leaking eval data, the question a curation
    * review actually asks; doc-level flags feed filters, this feeds the
    * mix decision). One doc_id-keyed join (co-partitioned with
    * decontam's own final join) + one partial-aggregating groupBy over
    * the source catalog — no new shuffle shape at any corpus size. */
  def contamReport(spark: SparkSession, dir: String): DataFrame =
    decontam(spark, dir)
      .join(Tables.table(spark, dir, "documents").select("doc_id", "source"),
        Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_train_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_hits")).as("total_hits"))
      .select(col("source"), col("n_train_docs"), col("n_contaminated"),
        col("total_hits"),
        (col("n_contaminated").cast("double") / col("n_train_docs").cast("double"))
          .as("contamination_rate"))
      .orderBy("source")

  /** `dd_cross_overlap`: corpus-composition overlap matrix — for every
    * pair of sources, the count of distinct 3-word shingles they share,
    * their Jaccard similarity, and mutual containment. The dataset-audit
    * primitive behind "how much of source B is already inside source A"
    * (mix design, crawl-snapshot diffing, contamination triage at the
    * SOURCE granularity, complementing the per-document `dd_decontam`).
    *
    * Scale shape: ONE distinct-shuffle down to (source, shingle), then a
    * groupBy(shingle) whose per-key state is bounded by the SOURCE
    * CATALOG (a collect_set over source names — dozens, not documents),
    * with pair expansion ≤ |catalog|² rows per shingle. No df cap
    * needed: unlike the doc-pair joins above, per-shingle work here no
    * longer depends on document frequency, so a boilerplate shingle in
    * a million docs still contributes exactly one (source-pair) row per
    * pair of sources containing it. */
  def crossOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.table(spark, dir, "documents")
      .select(col("source"),
        explode(Shingles.wordShinglesNative(col("text"), 3)).as("shingle"))
      .distinct()
    val per = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val common = sh.groupBy("shingle")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .where(size(col("srcs")) >= 2)
      .select(explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"))
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(per.select(col("source").as("src_a"), col("n_sh").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(per.select(col("source").as("src_b"), col("n_sh").as("n_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"), col("n_b"),
        (col("n_common") * lit(1.0)
          / (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"),
        (col("n_common") * lit(1.0) / col("n_a")).as("containment_a"),
        (col("n_common") * lit(1.0) / col("n_b")).as("containment_b"))
      .orderBy("src_a", "src_b")
  }

  /** Content-defined chunk boundary: cut before a token when the
    * rolling hash of the trailing [[ChunkGram]]-token window falls in
    * the cut residue class — 1-in-[[ChunkMask]] of positions, so chunks
    * average ~[[ChunkMask]] tokens. Boundaries depend only on LOCAL
    * content (the Gear/CDC property): inserting a sentence shifts every
    * byte after it, but chunk cuts re-align within one window, so
    * unchanged regions keep their chunk identity — the invariance that
    * makes chunk-level dedup robust where fixed-size blocks are not. */
  val ChunkGram = 3
  val ChunkMask = 8L

  /** `dd_chunk_dedup`: content-defined chunking + chunk-level exact
    * dedup — per document, how many of its chunks appear elsewhere in
    * the corpus (storage-style dedup at sub-document granularity; the
    * boilerplate/churn signal between whole-doc `dd_exact` and
    * span-level `dd_span`).
    *
    * Scale shape: tokens explode once; cut flags and chunk ids come
    * from ONE doc-keyed window pass (lag + running sum — partitions are
    * single documents, never the corpus); chunk text is re-sliced from
    * the source row by a co-partitioned doc_id join (no collect_list
    * reassembly); occurrence counting shuffles 32-byte sha2 keys, not
    * chunk strings (hash-before-shuffle, as [[exact]]). */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents").select("doc_id", "text")
    // r15: the chunk keys are a pure function of the document, so they
    // come from ONE codegen map pass ([[graft.functions.ChunkHashes]] —
    // identical cut rule and sha2 keys, ChunkHashesSpec pins equality
    // with the former posexplode+window+bounds-join derivation). The
    // old plan shuffled the token stream through a doc-keyed window and
    // re-joined the document row per chunk; now only 64-hex chunk keys
    // ever leave the scan.
    val chunks = docs.select(col("doc_id"),
      explode(graft.functions.ChunkHashes.chunkHashesCol(
        col("text"), ChunkGram, ChunkMask)).as("k"))
    val occ = chunks.groupBy("k").agg(count(lit(1)).as("n_occ"))
    chunks.join(occ, Seq("k"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_chunk_ratio",
        col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
      .orderBy("doc_id")
  }

  /** Two documents sharing a verbatim run of this many words are
    * substring near-dups (the span-dedup signal of Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"): it
    * catches a short doc embedded verbatim inside a much longer one,
    * which set-Jaccard misses because the containing doc's shingle set
    * dwarfs the intersection. */
  val SpanK = 8

  /** `dd_span`: document pairs sharing at least one exact [[SpanK]]-word
    * span, with the EXACT count of distinct shared spans per pair. Plan
    * discipline mirrors [[ngramJaccardCapped]]: candidate pairs come
    * only from df≤cap spans (one keyed self-join; any bucket's pair
    * count is bounded at ~cap²), and banned (df>cap) spans re-enter
    * through a per-pair correction keyed by doc_id, so reported counts
    * stay exact. A pair sharing ONLY banned spans goes unreported —
    * i.e. two docs whose every common 8-gram is corpus boilerplate,
    * which is the pair span-dedup should suppress anyway; at the tested
    * scale factors max span df is far below the cap, so the output is
    * exhaustively exact (asserted against the uncapped run in
    * DedupSpec). */
  def spanDedup(spark: SparkSession, dir: String): DataFrame =
    spanDedupCapped(spark, dir, ShingleDfCap)

  def spanDedupCapped(spark: SparkSession, dir: String,
      dfCap: Long): DataFrame = {
    val spans = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(Shingles.wordShinglesNative(col("text"), SpanK)).as("span"))
    val banned = spans.groupBy("span").agg(count(lit(1)).as("df"))
      .where(col("df") > dfCap).select("span")
    val allowed = spans.join(banned, Seq("span"), "left_anti")
    val interAllowed = allowed.select(col("doc_id").as("a_id"), col("span"))
      .join(allowed.select(col("doc_id").as("b_id"), col("span")), Seq("span"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_allowed"))
    val bannedRows = spans.join(banned, Seq("span"), "left_semi")
    val interBanned = interAllowed.select("a_id", "b_id")
      .join(bannedRows.select(col("doc_id").as("a_id"), col("span")), "a_id")
      .join(bannedRows.select(col("doc_id").as("b_id"), col("span")),
        Seq("span", "b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_banned"))
    interAllowed.join(interBanned, Seq("a_id", "b_id"), "left")
      .withColumn("n_shared",
        col("n_allowed") + coalesce(col("n_banned"), lit(0L)))
      .select("a_id", "b_id", "n_shared")
      .orderBy("a_id", "b_id")
  }

  /** Character window for [[dupCoverage]] — long enough that a shared
    * 48-char run is essentially never coincidence in natural text,
    * short enough to catch sentence-scale boilerplate. */
  val CoverageK = 48

  /** `dd_dup_coverage`: per-document duplicated-text share — the
    * fraction of each document's characters covered by at least one
    * exact [[CoverageK]]-char substring that also occurs verbatim in
    * some OTHER document (the ExactSubstr signal of Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better"
    * §4.1, re-expressed relationally instead of via a suffix array).
    *
    * Shape: every char position emits one k-gram (explode of a
    * `sequence` + codegen `substr` — no interpreted lambda HOFs); a
    * gram is cross-doc duplicated iff min(doc_id) ≠ max(doc_id) over
    * its occurrences — ONE partial-agg groupBy, no count-distinct
    * Expand; duplicated positions re-enter through a left-semi join
    * keyed on the gram; the union length of the per-doc interval set
    * [pos, pos+k-1] falls out of a gaps-and-islands pass (lag +
    * running sum over a doc-keyed window — partition size is bounded
    * by document LENGTH, never corpus size, so there is no
    * mega-partition risk). The gram subtree is deliberately computed
    * twice (agg side + probe side) rather than checkpointed: it is a
    * len×-amplified projection of the corpus, so at 100 TB recompute
    * from the column-pruned scan is cheaper than materializing it.
    * Shuffle keys are the 48-char grams themselves, which keeps the
    * result exact and oracle-expressible; the 100 TB deployment swaps
    * the key for xxhash64(gram) (8-byte rows in flight, collision
    * odds ~n²/2⁶⁵) with an identical plan shape. */
  def dupCoverage(spark: SparkSession, dir: String): DataFrame =
    dupCoverageImpl(spark, dir, hashKeys = false)

  /** The 100 TB twin: identical plan with `xxhash64(gram)` shuffle
    * keys — 8-byte rows in flight instead of 48-char strings, at
    * collision odds ~(#grams)²/2⁶⁵ (a false collision can only
    * OVERCOUNT one doc's coverage by ≤ k chars). Output-parity with
    * the exact path is asserted in DedupSpec at the test scales; the
    * exact path stays the oracle. */
  def dupCoverageHashed(spark: SparkSession, dir: String): DataFrame =
    dupCoverageImpl(spark, dir, hashKeys = true)

  private def dupCoverageImpl(spark: SparkSession, dir: String,
      hashKeys: Boolean): DataFrame =
    dupCoverageOf(spark,
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("text")),
      hashKeys)

  private[graft] def dupCoverageOf(spark: SparkSession, docsIn: DataFrame,
      hashKeys: Boolean): DataFrame = {
    val k = CoverageK
    val docs = docsIn
    // PARALLEL GENERATION (the FuzzyMatch pattern): AQE sizes stage
    // coalescing on the tiny PRE-explode bytes and folds the k-gram
    // generation to one task. The explicit-width exchange costs one
    // pass of the doc rows — amortized ~len:1 against the amplified
    // substr+hash work it parallelizes (and on a real lake the scan
    // has enough splits for it to rebalance, not concentrate).
    val np = spark.sessionState.conf.numShufflePartitions
    val grams = docs.where(length(col("text")) >= k)
      .repartition(np, col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - lit(k - 1))).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        (if (hashKeys) xxhash64(col("text").substr(col("pos"), lit(k)))
         else col("text").substr(col("pos"), lit(k))).as("gram"))
    val dup = grams.groupBy("gram")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .where(col("mn") =!= col("mx"))
      .select("gram")
    val hits = grams.join(dup, Seq("gram"), "left_semi")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // new island when the gap to the previous hit exceeds k (equal-
    // length intervals: adjacent/overlapping runs merge additively);
    // the first row's coalesce(-k) sentinel always opens an island
    val spans = hits
      .withColumn("brk",
        when(col("pos") - coalesce(lag("pos", 1).over(w), lit(-k)) > k, 1L)
          .otherwise(0L))
      .withColumn("island", sum("brk").over(w))
    val perDoc = spans.groupBy("doc_id", "island")
      .agg((max("pos") - min("pos") + lit(k)).cast("long").as("span_len"))
      .groupBy("doc_id").agg(sum("span_len").as("dup_chars"))
    docs.select("doc_id", "n_chars").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        // empty docs define ratio 0 (ANSI long division would THROW on
        // n_chars = 0; no test corpus has one, but a 100 TB crawl will)
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(coalesce(col("dup_chars"), lit(0L)) / col("n_chars"))
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** `dd_decontam_substr`: char-level benchmark decontamination — the
    * stricter complement to [[decontam]]'s word-8-gram screen: a
    * training doc is flagged if any verbatim [[CoverageK]]-char run
    * also appears in the held-out eval split, and the leaked CHAR
    * coverage (the [[dupCoverage]] interval union restricted to
    * eval-matching grams) quantifies how much of the doc is benchmark
    * text. Catches tokenization evasions the word-shingle screen
    * misses: punctuation/whitespace perturbations shift word
    * boundaries but leave 48-char runs intact.
    *
    * Scale shape: the eval side collapses to the DISTINCT grams of the
    * eval split — but the split is hash-defined (~1/[[DecontamBenchMod]]
    * of the corpus), so its gram count grows LINEARLY with corpus size
    * and an unconditional broadcast would OOM well before 100 TB. The
    * broadcast is therefore GATED on a measured upper bound (the bench
    * docs' char mass, a 1-row metadata aggregate over the pruned
    * `n_chars` column — no text scan): under
    * [[DecontamMaxBroadcastGramBytes]] the eval grams broadcast and the
    * training grams are screened map-side with no train-side shuffle;
    * past it the screen falls back to a shuffled semi-join (string-
    * exact either way — same oracle). The remaining shuffles are the
    * eval distinct and the doc-keyed island rollup (doc-length-bounded
    * windows). */
  def decontamSubstr(spark: SparkSession, dir: String): DataFrame =
    decontamSubstrImpl(spark, dir, DecontamMaxBroadcastGramBytes)

  /** Conservative in-memory budget for the broadcast eval-gram relation
    * (FuzzyMatch's hinted() convention): ~96 B per distinct 48-char
    * gram in a hashed relation → 200 MB ≈ 2M grams. The bench-doc char
    * mass (≥ distinct gram count) is the gate's upper bound. */
  private[graft] val DecontamMaxBroadcastGramBytes = 200L << 20

  private[graft] def decontamSubstrImpl(spark: SparkSession, dir: String,
      maxBroadcastGramBytes: Long): DataFrame = {
    val k = CoverageK
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), col("text"),
        (Curation.portableHash(col("doc_id")) % DecontamBenchMod === 0)
          .as("is_bench"))
    val np = spark.sessionState.conf.numShufflePartitions
    val grams = docs.where(length(col("text")) >= k)
      .repartition(np, col("doc_id"))
      .select(col("doc_id"), col("is_bench"),
        explode(sequence(lit(1), length(col("text")) - lit(k - 1))).as("pos"),
        col("text"))
      .select(col("doc_id"), col("is_bench"), col("pos"),
        col("text").substr(col("pos"), lit(k)).as("gram"))
    val evalGrams = grams.where(col("is_bench")).select("gram").distinct()
    // gate: per-doc gram count is n_chars - k + 1 ≤ n_chars, so the
    // bench split's char mass bounds the distinct-gram count from above
    val evalGramBound = Tables.table(spark, dir, "documents")
      .where(Curation.portableHash(col("doc_id")) % DecontamBenchMod === 0)
      .agg(coalesce(sum(col("n_chars").cast("long")), lit(0L)))
      .head().getLong(0)
    val evalSide =
      if (evalGramBound * 96L <= maxBroadcastGramBytes) broadcast(evalGrams)
      else evalGrams
    val hits = grams.where(!col("is_bench"))
      .join(evalSide, Seq("gram"), "left_semi")
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val perDoc = hits
      .withColumn("brk",
        when(col("pos") - coalesce(lag("pos", 1).over(w), lit(-k)) > k, 1L)
          .otherwise(0L))
      .withColumn("island", sum("brk").over(w))
      .groupBy("doc_id", "island")
      .agg((max("pos") - min("pos") + lit(k)).cast("long").as("span_len"))
      .groupBy("doc_id").agg(sum("span_len").as("leak_chars"))
    docs.where(!col("is_bench")).select("doc_id", "n_chars")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("leak_chars"), lit(0L)).as("leak_chars"),
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(coalesce(col("leak_chars"), lit(0L)) / col("n_chars"))
          .as("leak_ratio"),
        (coalesce(col("leak_chars"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Corpus substring-gram hash index — the static side of
    * [[graft.streaming.DocumentStreams.dupCoverageScreenStream]]: one
    * row per distinct [[CoverageK]]-gram xxhash64 in the corpus with
    * the smallest holding doc as the quarantine witness. The persisted
    * form of an incremental exact-substring-dedup deployment (built
    * once per corpus; every arriving batch/stream probes it), sized
    * ~distinct-grams × 16 B. Hashes match the [[dupCoverageHashed]] /
    * stream per-row kernels bit-for-bit: same substr window, same
    * xxhash64. */
  private[graft] def gramHashIndexOf(corpus: DataFrame): DataFrame = {
    val k = CoverageK
    corpus.where(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - lit(k - 1))).as("pos"),
        col("text"))
      .select(col("doc_id"),
        xxhash64(col("text").substr(col("pos"), lit(k))).as("gh"))
      .groupBy("gh").agg(min("doc_id").as("corpus_id"))
  }

  /** MinHash signatures: 64 permutations over the PORTABLE hash family
    * (r15, the REPLAY-ORACLE move): permutation i of a shingle is the
    * quadratic-integer chain ([[permHashCol]]) on the shingle's
    * polynomial rolling hash — bounded integer arithmetic end to end,
    * so the DuckDB oracle regenerates every band signature exactly
    * (which per-shingle xxhash64 never allowed; this is what unblocks
    * dd_lsh_calibration). Banded 16×4; near-dup candidates share a
    * band signature; candidates are then exact-verified (so precision
    * is 1; with 16×4 banding at j≥0.8 the recall loss is < 1e-4 — the
    * planted dups are ≥0.96; recall 1.0 re-proven at every verified SF
    * by the standing license spec after the family swap). */
  /** MinHash banding geometry: 64 permutations in 16 bands of 4 —
    * shared by the batch bucket table and the streaming per-row
    * signature (graft.streaming.DocumentStreams), which MUST agree
    * bit-for-bit for the stream-static screen to hit the same
    * buckets. */
  val MinhashPerms = 64
  val MinhashBands = 16

  /** Portable MinHash permutation value i of a shingle with rolling
    * hash `hs`: the [[graft.functions.HyperplaneSigs]] quadratic chain
    * on flat coordinate `hs·MinhashPerms + i` — distinct (shingle,
    * perm) coordinates never collide, every intermediate stays under
    * 2⁶³ (hs < 10⁹+7 ⇒ idx < 2³⁷). */
  private[graft] def permHashCol(hs: Column, i: Int): Column = {
    val m = graft.functions.HyperplaneSigs.HashMod
    val a = graft.functions.HyperplaneSigs.HashMult
    val c = graft.functions.HyperplaneSigs.MixAdd
    val idx = hs * lit(MinhashPerms.toLong) + lit(i.toLong)
    val h1 = ((idx % m) * a) % m
    val h2 = ((h1 * h1) + c) % m
    (h2 * a) % m
  }

  /** [[permHashCol]] as SQL text over an integer expression `hs` —
    * valid in BOTH Spark SQL (the streaming per-row transform lambda)
    * and DuckDB (the calibration replay oracle). */
  private[graft] def permHashSql(hs: String, i: Int): String = {
    val m = graft.functions.HyperplaneSigs.HashMod
    val a = graft.functions.HyperplaneSigs.HashMult
    val c = graft.functions.HyperplaneSigs.MixAdd
    val idx = s"(($hs) * $MinhashPerms + $i)"
    val h1 = s"((($idx) % $m) * $a) % $m"
    val h2 = s"((($h1) * ($h1)) + $c) % $m"
    s"(((($h2)) * $a) % $m)"
  }

  /** Band signature from the band's permutation minima: the left fold
    * `s ← (s·A + mᵢ) % M` then one quadratic finalizer — order-
    * sensitive (a plain sum would collide permuted minima), bounded
    * (s·A + m < 2⁶³), and identical as Column arithmetic, Spark SQL
    * text and DuckDB SQL text. */
  private[graft] def bandSigCol(ms: Seq[Column]): Column = {
    val m = graft.functions.HyperplaneSigs.HashMod
    val a = graft.functions.HyperplaneSigs.HashMult
    val c = graft.functions.HyperplaneSigs.MixAdd
    val s = ms.reduce((acc, x) => ((acc * a) + x) % m)
    ((((s * s) + c) % m) * a) % m
  }

  /** [[bandSigCol]] as SQL text over integer expressions. */
  private[graft] def bandSigSql(ms: Seq[String]): String = {
    val m = graft.functions.HyperplaneSigs.HashMod
    val a = graft.functions.HyperplaneSigs.HashMult
    val c = graft.functions.HyperplaneSigs.MixAdd
    val s = ms.reduce((acc, x) => s"((($acc) * $a + ($x)) % $m)")
    s"(((((($s) * ($s)) + $c) % $m) * $a) % $m)"
  }

  /** (doc_id, band, sig) LSH bucket keys — shared by [[minhashLsh]]
    * (full-corpus pairs), [[minhashIncremental]] (batch-vs-corpus
    * boundary pairs), [[lshCalibration]] (the collision side) and the
    * streaming ingest screen (as the static side).
    *
    * A session-cached [[ArtifactCache]] artifact: this IS the
    * persisted MinHash signature index of an incremental dedup
    * deployment — corpus × [[MinhashBands]] fixed-width rows, built
    * once per corpus, that every later batch/stream screens against
    * (the contract [[minhashIncremental]] models and
    * [[screenAgainstIndex]]'s parquet persist/load ships); deriving it
    * per query repeated the 64-perm signature aggregate four times. */
  private[graft] def minhashBuckets(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "dd_minhash_index")(
      minhashBucketsOf(Tables.table(spark, dir, "documents")))

  private[graft] def minhashBucketsOf(docs: DataFrame): DataFrame = {
    val nPerm = MinhashPerms
    val bands = MinhashBands
    val rowsPerBand = nPerm / bands
    // one rolling hash per (doc, shingle); each permutation is then
    // ~6 integer ops on it — cheaper than a fresh string hash per perm
    val sh = shingleSetsOf(docs)
      .select(col("doc_id"),
        call_function("graft_rolling_hash", col("shingle")).as("hs"))
    val perms: Seq[Column] =
      (0 until nPerm).map(i => min(permHashCol(col("hs"), i)).as(s"m$i"))
    val sigs = sh.groupBy("doc_id").agg(perms.head, perms.tail: _*)
    val bandCols: Seq[Column] = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        bandSigCol((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"m$i"))).as("sig")).as(s"b$b")
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Banded-LSH near-dup pairs, exact-verified. Cached per corpus per
    * session like [[ngramJaccard]] — the banding + verification run
    * once; repeat readers (its query key, [[methodReport]]) reuse the
    * materialized pair list. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "dd_minhash_pairs")(
      minhashLshDerive(spark, dir))

  private def minhashLshDerive(spark: SparkSession, dir: String): DataFrame =
    verifyCandidates(spark, dir, bucketPairs(minhashBuckets(spark, dir)))

  /** The distinct doc pairs (a_id < b_id) sharing at least one
    * (band, sig) bucket of [[minhashBuckets]]: the banded self-join. */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets.select(col("doc_id").as("a_id"), col("band"), col("sig"))
      .join(buckets.select(col("doc_id").as("b_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()

  /** `dd_minhash_incremental`: NEAR-dup screening of an incoming batch
    * against the standing corpus — the daily-crawl twin of
    * [[incrementalDedup]] (which only catches byte-identical text).
    * One row per batch document: how many corpus near-dups it has, the
    * best Jaccard, and the novelty flag ingestion gates on.
    *
    * Scale shape: signatures/banding are [[minhashBuckets]] — in
    * production the corpus side is PERSISTED (signatures are 64
    * longs/doc; only the batch recomputes), so the candidate join is
    * batch-buckets ⋈ corpus-buckets, never corpus². Verification is
    * the exact cross-boundary Jaccard on candidate docs only, and the
    * rollup is batch-sized. Exact oracle licensed by the banding's
    * proven recall 1.0 at every verified SF (boundary pairs are a
    * subset of the full pair set the gate already checks). */
  def minhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = Curation.portableHash(col("doc_id")) % 10 === 0
    val pairs = incrementalNearPairs(spark, dir)
    val matches = pairs.groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_corpus_matches"), max(col("jaccard")).as("max_jaccard"))
    Tables.table(spark, dir, "documents").where(isBatch)
      .select(col("doc_id"))
      .join(matches, col("doc_id") === col("batch_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
        col("max_jaccard"),
        (coalesce(col("n_corpus_matches"), lit(0L)) === 0L).as("novel"))
      .orderBy("doc_id")
  }

  /** Cross-boundary near-dup pairs (batch_id, corpus_id, jaccard ≥
    * [[JaccardThreshold]]) for the hash-split incremental contract —
    * the shared kernel of [[minhashIncremental]] and [[admission]]:
    * banded-bucket candidates (batch buckets ⋈ corpus buckets, never
    * corpus²), exact Jaccard verify on candidate docs only. */
  private[graft] def incrementalNearPairs(spark: SparkSession,
      dir: String): DataFrame = {
    val isBatch = Curation.portableHash(col("doc_id")) % 10 === 0
    val buckets = minhashBuckets(spark, dir)
    val cand = buckets.where(isBatch)
      .select(col("doc_id").as("batch_id"), col("band"), col("sig"))
      .join(buckets.where(!isBatch)
          .select(col("doc_id").as("corpus_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("batch_id", "corpus_id").distinct()
    val candDocs = cand.select(col("batch_id").as("doc_id"))
      .unionAll(cand.select(col("corpus_id").as("doc_id"))).distinct()
    val shS = shingleSetsWithSize(spark, dir)
      .join(candDocs, Seq("doc_id"), "left_semi")
    shS.where(isBatch)
      .select(col("doc_id").as("batch_id"), col("n_sh").as("n_a"), col("shingle"))
      .join(shS.where(!isBatch)
          .select(col("doc_id").as("corpus_id"), col("n_sh").as("n_b"),
            col("shingle")),
        Seq("shingle"))
      .groupBy("batch_id", "corpus_id", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= JaccardThreshold)
  }

  /** `dd_admission`: the unified per-batch-doc ingest verdict — the
    * API a production intake actually calls, composing the four
    * standing screens into ONE row per arriving document with a flag
    * and a first-witness per screen:
    *
    *   - EXACT vs corpus ([[incrementalDedup]] semantics), with the
    *     [[bloomIncrementalDedup]] shortcut: a negative bloom probe is
    *     proof of absence, so genuinely-new rows (the overwhelming
    *     majority) skip the corpus witness join entirely;
    *   - EXACT within the batch: first-copy-wins (`first_batch_id`);
    *   - NEAR-dup vs corpus ([[minhashIncremental]]'s banded screen,
    *     exact-verified in bucket), witness = best-Jaccard corpus doc,
    *     ties to the smaller id (one max-of-struct argmax, no window);
    *   - VERBATIM 48-char run vs corpus (the [[dupCoverage]] substring
    *     signal applied cross-boundary), witness = smallest corpus doc
    *     holding any shared gram;
    *   - SEMANTIC near-dup vs corpus ([[Similarity.semanticDecontam]]'s
    *     hyperplane-LSH + exact-cosine path on the admission split):
    *     paraphrase-robust — reworded copies the token screens miss by
    *     construction. Witness = best-cosine corpus embedding, ties to
    *     the smaller id (the same max-of-struct argmax; embeddings are
    *     1:1 with documents by id);
    *   - URL frontier vs corpus ([[Url.urlIncremental]]'s screen on
    *     the document's own arriving spelling — variant
    *     `doc_id % UrlVariants` of the [[Url.urlVariants]] synthesis):
    *     a doc whose canonical URL is already in the corpus frontier
    *     is a re-crawl, rejected before any content signal; docs with
    *     no valid URL (`url_valid=false`) pass this screen and fall
    *     through to the content screens.
    *
    * `admitted` = all six screens clear. Parity with each standalone
    * screen is asserted in DedupSpec; the oracle composes the
    * components' own oracle forms (the semantic oracle is the licensed
    * brute-force cosine of dd_decontam_sem — exact because candidates
    * are exact-verified and banding recall is 1.0 at every verified
    * SF, re-proven by the hash gate itself on this split).
    *
    * Scale shape: every screen is the standalone operator's plan — the
    * exact screen ships one bloom + an index-sized witness join, the
    * near screen joins persisted-index-sized signature tables, the
    * substring screen keys its position-exploded gram tables by
    * xxhash64(gram) — 8-byte shuffle keys, the [[dupCoverageHashed]]
    * shape; in production it probes the persisted [[gramHashIndexOf]]
    * index; the verdicts meet in batch-keyed left joins. */
  def admission(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = Curation.portableHash(col("doc_id")) % 10 === 0
    val docs = Tables.table(spark, dir, "documents")
    val hashed = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"),
      isBatch.as("is_batch"))

    // exact screen: bloom probe, witness join only for probe-positives
    val u = java.util.UUID.randomUUID().toString.replace("-", "")
    val corpusView = s"adm_corpus_$u"
    val batchView = s"adm_batch_$u"
    hashed.where(!col("is_batch")).select("h").createOrReplaceTempView(corpusView)
    hashed.where(col("is_batch")).select("doc_id", "h")
      .createOrReplaceTempView(batchView)
    // COALESCE: an EMPTY corpus split aggregates to a NULL bloom and
    // the probe returns NULL — without the fallback every batch row
    // would fail both `where(maybe)` and `where(!maybe)` and the
    // one-row-per-batch-doc contract silently drops to 0 rows. An
    // absent bloom is proof of absence.
    val probed = spark.sql(
      s"""SELECT doc_id, h,
         |       COALESCE(graft_bloom_contains(
         |         (SELECT graft_bloom_agg(xxhash64(h)) FROM $corpusView),
         |         xxhash64(h)), FALSE) AS maybe
         |FROM $batchView""".stripMargin)
    val corpusIdx = hashed.where(!col("is_batch"))
      .groupBy("h").agg(min("doc_id").as("exact_witness"))
    val exact = probed.where(col("maybe"))
      .join(corpusIdx, Seq("h"), "left")
      .select(col("doc_id"), col("h"), col("exact_witness"))
      .unionByName(probed.where(!col("maybe"))
        .select(col("doc_id"), col("h"),
          lit(null).cast("long").as("exact_witness")))
    val firstInBatch = hashed.where(col("is_batch"))
      .groupBy("h").agg(min("doc_id").as("first_batch_id"))
    val exactFlags = exact.join(firstInBatch, Seq("h"))
      .select(col("doc_id"),
        col("exact_witness").isNotNull.as("exact_dup_corpus"),
        col("exact_witness"),
        (col("doc_id") > col("first_batch_id")).as("exact_dup_in_batch"),
        col("first_batch_id"))

    // near screen: shared kernel + one struct argmax for the witness
    val near = incrementalNearPairs(spark, dir)
      .groupBy(col("batch_id").as("doc_id"))
      .agg(count(lit(1)).as("near_matches"),
        max(col("jaccard")).as("max_jaccard"),
        max(struct(col("jaccard"), (-col("corpus_id")).as("nid"))).as("mx"))
      .select(col("doc_id"), col("near_matches"), col("max_jaccard"),
        (-col("mx.nid")).as("near_witness"))

    // substring screen: cross-boundary verbatim CoverageK-char runs,
    // keyed on xxhash64(gram) end to end (the [[dupCoverageHashed]]
    // 100 TB shape): 8-byte keys in flight instead of 48-char strings
    // — the verdict columns carry no gram text, so the hash never
    // surfaces; a collision can only plant a false witness at odds
    // ~(#grams)²/2⁶⁵ (the oracle at every verified SF is the standing
    // collision check)
    val k = CoverageK
    val np = spark.sessionState.conf.numShufflePartitions
    val grams = docs
      .select(col("doc_id"), isBatch.as("is_batch"), col("text"))
      .where(length(col("text")) >= k)
      .repartition(np, col("doc_id"))
      .select(col("doc_id"), col("is_batch"),
        explode(sequence(lit(1), length(col("text")) - lit(k - 1))).as("pos"),
        col("text"))
      .select(col("doc_id"), col("is_batch"),
        xxhash64(col("text").substr(col("pos"), lit(k))).as("gh"))
    // the BATCH side is the small one (a day's crawl vs the standing
    // corpus): its distinct gram-hash set broadcast-prunes the corpus
    // gram stream map-side, so only matching corpus grams ever shuffle
    // — gated on the batch char mass exactly like decontamSubstr, with
    // the same shuffled-semi-join fallback past the budget (hashed
    // probe rows are ~16 B vs ~96 B strings, so the same byte budget
    // admits 6× the batch mass)
    val batchGrams = grams.where(col("is_batch"))
    val batchGramSet = batchGrams.select("gh").distinct()
    val batchCharBound = docs
      .where(isBatch)
      .agg(coalesce(sum(col("n_chars").cast("long")), lit(0L)))
      .head().getLong(0)
    val probeSet =
      if (batchCharBound * 16L <= DecontamMaxBroadcastGramBytes)
        broadcast(batchGramSet)
      else batchGramSet
    val corpusHits = grams.where(!col("is_batch"))
      .join(probeSet, Seq("gh"), "left_semi")
      .groupBy("gh").agg(min("doc_id").as("gw"))
    val substr = batchGrams.select("doc_id", "gh")
      .join(corpusHits, Seq("gh"))
      .groupBy("doc_id").agg(min("gw").as("substr_witness"))

    // semantic screen: the decontamSem kernel on the admission split —
    // signatures come from the per-dir cached hyperplane index (signed
    // ONCE per corpus, split after signing); candidates are the keyed
    // (table, signature) equi-join of batch sigs against corpus sigs,
    // never corpus²; only candidates pay the exact cosine rerank
    val emb = Similarity.corpus(spark, dir)
    val isBatchVec = Curation.portableHash(col("vec_id")) % 10 === 0
    val vsigs = Similarity.lshSigs(spark, dir)
    val semCand = vsigs.where(isBatchVec)
      .select(col("vec_id").as("b_vec"), col("tbl"), col("sig"))
      .join(vsigs.where(!isBatchVec)
          .select(col("vec_id").as("c_vec"), col("tbl"), col("sig")),
        Seq("tbl", "sig"))
      .select("b_vec", "c_vec").distinct()
    val sem = semCand
      .join(emb.select(col("vec_id").as("b_vec"), col("embedding").as("e_b"),
        col("nrm").as("n_b")), "b_vec")
      .join(emb.select(col("vec_id").as("c_vec"), col("embedding").as("e_c"),
        col("nrm").as("n_c")), "c_vec")
      .select(col("b_vec"), col("c_vec"),
        graft.functions.VectorFunctions.cosinePrenormed(
          graft.functions.VectorFunctions.dot(col("e_b"), col("e_c")),
          col("n_b"), col("n_c")).as("cosine"))
      .where(col("cosine") >= Similarity.NearDupThreshold)
      .groupBy(col("b_vec").as("doc_id"))
      .agg(count(lit(1)).as("sem_matches"),
        max(col("cosine")).as("max_sem_cos"),
        max(struct(col("cosine"), (-col("c_vec")).as("nid"))).as("smx"))
      .select(col("doc_id"), col("sem_matches"), col("max_sem_cos"),
        (-col("smx.nid")).as("sem_witness"))

    // URL screen: the frontier verdict on the doc's own arriving
    // spelling — canonicalization is map-side codegen, the screen ONE
    // join keyed on the collapsed canonical string against the
    // corpus docs' own canonical URLs (one per crawled page)
    val av = Url.urlVariants(spark, dir)
      .where(col("variant") === (col("doc_id") % Url.UrlVariants))
      .select(col("doc_id"), col("url"),
        graft.functions.UrlCanon.canonCol(col("url")).as("canon_url"),
        isBatch.as("is_batch"))
    val urlFrontier = av.where(!col("is_batch"))
      .where(col("canon_url").isNotNull)
      .select("canon_url").distinct().withColumn("uk", lit(true))
    val urlScreen = av.where(col("is_batch"))
      .join(urlFrontier, Seq("canon_url"), "left")
      .select(col("doc_id"), col("canon_url"),
        col("canon_url").isNotNull.as("url_valid"),
        coalesce(col("uk"), lit(false)).as("url_known"))

    exactFlags
      .join(near, Seq("doc_id"), "left")
      .join(substr, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .join(urlScreen, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("exact_dup_corpus"), col("exact_witness"),
        col("exact_dup_in_batch"), col("first_batch_id"),
        coalesce(col("near_matches"), lit(0L)).as("near_matches"),
        col("max_jaccard"), col("near_witness"),
        col("substr_witness").isNotNull.as("substr_hit"),
        col("substr_witness"),
        coalesce(col("sem_matches"), lit(0L)).as("sem_matches"),
        col("max_sem_cos"), col("sem_witness"),
        col("canon_url"),
        coalesce(col("url_valid"), lit(false)).as("url_valid"),
        coalesce(col("url_known"), lit(false)).as("url_known"),
        (!col("exact_dup_corpus") && !col("exact_dup_in_batch") &&
          coalesce(col("near_matches"), lit(0L)) === 0L &&
          col("substr_witness").isNull &&
          coalesce(col("sem_matches"), lit(0L)) === 0L &&
          !coalesce(col("url_known"), lit(false))).as("admitted"))
      .orderBy("doc_id")
  }

  /** `dd_lsh_calibration`: measured vs theoretical banding S-curve —
    * per exact-Jaccard decile (≥ [[CurveMinJaccard]]): the exact pair
    * count, how many of those pairs actually share a MinHash band, the
    * empirical collision rate, and the theoretical
    * 1 − (1 − j^r)^b at the decile midpoint for the configured
    * (b, r) = ([[MinhashBands]], [[MinhashPerms]]/[[MinhashBands]]).
    * The closing audit of the tuning series ([[dfHist]],
    * [[thresholdCurve]], [[Graph.supportHist]]): it shows whether the
    * production banding delivers the recall the theory promises at the
    * production threshold, and how much sub-threshold candidate mass
    * it drags in.
    *
    * Scale shape: the exact side is the one df-capped self-join of
    * [[thresholdCurve]]; the collision side is the banded-bucket
    * candidate join of [[minhashLsh]] (df-capped by the bucket
    * population cap); both collapse to decile-keyed metadata before
    * meeting in a ≤10-row join. FULL oracle since r15 (the portable
    * permutation family makes the band signatures replayable —
    * [[lshCalibrationOracleSql]]); DedupSpec still asserts the
    * ≥-threshold deciles collide at rate 1.0 (the standing recall
    * license) and the theoretical column against a driver recompute. */
  def lshCalibration(spark: SparkSession, dir: String): DataFrame = {
    val r = MinhashPerms / MinhashBands
    val exact = curveDeciles(spark, dir)
    val cand = bucketPairs(minhashBuckets(spark, dir))
      .withColumn("collides", lit(1L))
    val perDecile = exact
      .join(cand, Seq("a_id", "b_id"), "left")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("collides"), lit(0L))).as("n_collide"))
    // theoretical S-curve at the decile midpoint: driver-side constants
    // (squaring chain, no pow dependence)
    val theo = (0 to 10).map { d =>
      val m = math.min(1.0, (d + 0.5) / 10.0)
      var jr = 1.0
      (1 to r).foreach(_ => jr *= m)
      var miss = 1.0
      (1 to MinhashBands).foreach(_ => miss *= (1.0 - jr))
      d.toLong -> (1.0 - miss)
    }
    val theoDf = org.apache.spark.sql.functions.typedLit(theo.toMap)
    perDecile
      .select(col("decile"),
        (col("decile").cast("double") / 10).as("jaccard_lo"),
        col("n_pairs"), col("n_collide"),
        (col("n_collide").cast("double") / col("n_pairs").cast("double"))
          .as("empirical_rate"),
        element_at(theoDf, col("decile")).as("theoretical_rate"))
      .orderBy("decile")
  }

  /** `dd_source_dup_profile`: per-source duplication scorecard — for
    * each source: docs, exact-duplicate docs (non-canonical members of
    * identical-text clusters), docs sitting in a near-dup component,
    * and both rates. The data-sourcing audit ("which crawl pays for
    * its storage") that [[methodReport]] aggregates corpus-wide —
    * this is the breakdown a mix designer actually acts on.
    *
    * Scale shape: the exact side is the [[exact]] hash-groupBy
    * (32-byte digests shuffle, never text) joined back by digest; the
    * near side reuses [[Curation.dedupComponents]]'s one-keyed-join
    * fixpoint; the rollup is a source-catalog-sized aggregate. Rates
    * divide exact longs once each. */
  def sourceDupProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "documents")
    val exd = d.select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
      .join(exact(spark, dir).select("content_hash", "canonical_doc_id"),
        Seq("content_hash"))
      .select(col("doc_id"),
        (col("doc_id") =!= col("canonical_doc_id")).as("is_exact_dup"))
    val near = Curation.dedupComponents(spark, dir)
      .select(col("doc_id"), (col("cluster_size") > 1).as("in_near_cluster"))
    d.select("doc_id", "source")
      .join(exd, Seq("doc_id"))
      .join(near, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_exact_dup"), 1L).otherwise(0L)).as("n_exact_dups"),
        sum(when(col("in_near_cluster"), 1L).otherwise(0L))
          .as("n_near_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_exact_dups"),
        (col("n_exact_dups").cast("double") / col("n_docs").cast("double"))
          .as("exact_dup_rate"),
        col("n_near_dup_docs"),
        (col("n_near_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("near_dup_rate"))
      .orderBy("source")
  }

  /** Persist the banded MinHash signature index of a corpus — the
    * standing near-dup index a daily ingest screens against. 16 rows
    * of (doc_id, band, sig) per document (two longs each): build once,
    * append per accepted batch; the corpus TEXT is never re-shingled
    * by later screens. */
  def writeSignatureIndex(docs: DataFrame, path: String): Unit =
    minhashBucketsOf(docs).write.mode("overwrite").parquet(path)

  /** Screen an incoming batch (doc_id, text) against a PERSISTED
    * signature index — [[minhashIncremental]]'s production form. The
    * corpus side of the candidate join is the index read back from
    * `indexPath` (signatures are never recomputed); `corpusDocs` is
    * touched only to fetch the exact shingle sets of CANDIDATE corpus
    * docs (left-semi pruned — at scale a few rows per batch doc, vs
    * the whole corpus for a recompute). Output: one row per batch doc
    * with its corpus near-dup count, best exact Jaccard and the
    * novelty flag ingestion gates on. */
  def screenAgainstIndex(spark: SparkSession, batch: DataFrame,
      corpusDocs: DataFrame, indexPath: String): DataFrame = {
    val batchBuckets = minhashBucketsOf(batch)
    val corpusBuckets = spark.read.parquet(indexPath)
    val cand = batchBuckets
      .select(col("doc_id").as("batch_id"), col("band"), col("sig"))
      .join(corpusBuckets
          .select(col("doc_id").as("corpus_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("batch_id", "corpus_id").distinct()
    val bSh = shingleSetsWithSizeOf(batch)
      .join(cand.select(col("batch_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
    val cSh = shingleSetsWithSizeOf(corpusDocs)
      .join(cand.select(col("corpus_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
    val matches = bSh
      .select(col("doc_id").as("batch_id"), col("n_sh").as("n_a"), col("shingle"))
      .join(cSh.select(col("doc_id").as("corpus_id"), col("n_sh").as("n_b"),
        col("shingle")), Seq("shingle"))
      .groupBy("batch_id", "corpus_id", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter") * lit(1.0) / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= JaccardThreshold)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_corpus_matches"),
        max(col("jaccard")).as("max_jaccard"))
    batch.select(col("doc_id"))
      .join(matches, col("doc_id") === col("batch_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
        col("max_jaccard"),
        (coalesce(col("n_corpus_matches"), lit(0L)) === 0L).as("novel"))
      .orderBy("doc_id")
  }

  /** Curve floor for [[thresholdCurve]]. */
  val CurveMinJaccard = 0.5

  /** Exact near-dup pairs at Jaccard ≥ [[CurveMinJaccard]] with their
    * decile bucket — the shared input of the two tuning-curve audits
    * ([[thresholdCurve]] counts it, [[lshCalibration]] joins the
    * banding collisions against it). A session-cached [[ArtifactCache]]
    * artifact: both audits ran the full df-capped [[pairIntersections]]
    * kernel; the ≥0.5 pair list itself is near-dup-sized (tiny). */
  private def curveDeciles(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "dd_curve_pairs")(
      pairIntersections(spark, dir, ShingleDfCap)
        .withColumn("jaccard",
          col("inter") * lit(1.0) / (col("n_a") + col("n_b") - col("inter")))
        .where(col("jaccard") >= CurveMinJaccard)
        .select(col("a_id"), col("b_id"),
          floor(col("jaccard") * 10).cast("long").as("decile")))

  /** `dd_threshold_curve`: near-dup pair counts at every Jaccard decile
    * from [[CurveMinJaccard]] up — the threshold-tuning audit for
    * [[JaccardThreshold]] itself (the third of the tuning-constant
    * audit series next to [[dfHist]] and
    * [[graft.operators.Graph.supportHist]]): the production cut should
    * sit past the curve's knee, and this table shows where candidate
    * volume explodes as the bar drops.
    *
    * Scale shape: one aggregate over the cached [[curveDeciles]]
    * artifact (df-capped self-join, exact via the banned-shingle
    * correction, decile a FLOOR of the identical-IEEE jaccard) — the
    * histogram and its ≥-suffix run over ≤ 10 metadata rows. */
  def thresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val hist = curveDeciles(spark, dir)
      .groupBy("decile").agg(count(lit(1)).as("n_pairs_exact"))
    hist
      .join(hist.select(col("decile").as("d2"), col("n_pairs_exact").as("n2")),
        col("d2") >= col("decile"), "left")
      .groupBy("decile", "n_pairs_exact")
      .agg(sum(col("n2")).as("n_pairs_at_least"))
      .withColumn("jaccard_lo", col("decile").cast("double") / 10)
      .select("decile", "jaccard_lo", "n_pairs_exact", "n_pairs_at_least")
      .orderBy("decile")
  }

  /** `dd_df_hist`: shingle document-frequency histogram — how many
    * distinct shingles occur in exactly df documents. The
    * [[ShingleDfCap]] audit (the [[graft.operators.Graph.supportHist]]
    * discipline applied to the dedup family): the cap must sit past
    * the natural-text knee, and the exactness precondition "max df ≤
    * cap" is this table's last row. Zipf makes the output O(√mass)
    * rows — metadata at any corpus size.
    *
    * Scale shape: one vocab-bounded (doc, shingle)-distinct aggregate,
    * then an aggregate over df values. */
  def dfHist(spark: SparkSession, dir: String): DataFrame =
    shingleSets(spark, dir)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .groupBy("df")
      .agg(count(lit(1)).as("n_shingles"))
      .orderBy("df")

  /** `dd_method_report`: the dedup dashboard — one row per method with
    * its pair count and the distinct documents it touches. The
    * side-by-side view a curation review reads first (how much do the
    * exact / Jaccard / MinHash / containment families overlap and
    * disagree on THIS corpus); `minhash_lsh` equalling `ngram_jaccard`
    * row-for-row is the banding's recall contract made visible.
    *
    * Scale shape: every input is an existing operator's (small) result
    * set; each method contributes two metadata-sized aggregates
    * (1-row count × distinct-endpoint count) and the union is four
    * rows. */
  def methodReport(spark: SparkSession, dir: String): DataFrame = {
    def pairStats(name: String, pairs: DataFrame): DataFrame = {
      val p = pairs.select(col("a_id"), col("b_id"))
      val s = p.agg(count(lit(1)).as("n_pairs"))
      val d = p.select(explode(array(col("a_id"), col("b_id"))).as("id"))
        .distinct().agg(count(lit(1)).as("n_docs"))
      s.crossJoin(d).select(lit(name).as("method"), col("n_pairs"), col("n_docs"))
    }
    val ex = exact(spark, dir).where(col("n_copies") >= 2)
      .agg(
        coalesce(sum(expr("n_copies * (n_copies - 1) DIV 2")), lit(0L))
          .as("n_pairs"),
        coalesce(sum(col("n_copies")), lit(0L)).as("n_docs"))
      .select(lit("exact").as("method"), col("n_pairs"), col("n_docs"))
    ex.unionAll(pairStats("ngram_jaccard", ngramJaccard(spark, dir)))
      .unionAll(pairStats("minhash_lsh", minhashLsh(spark, dir)))
      .unionAll(pairStats("containment", containment(spark, dir)))
      .orderBy("method")
  }

  /** Pairs within this Hamming distance count as simhash near-dups.
    * 7 suits short (~50-token) docs at the 64-bit width, where even
    * 0.97-Jaccard dups flip several signature bits.
    *
    * The budget is ABSOLUTE — it does not grow with signature width.
    * That is forced by the candidate index: the d+1-block pigeonhole
    * needs d ≤ [[SimhashBlocks]]−1 regardless of width, and no exact
    * index exists for a width-proportional threshold (agreement on any
    * k-bit key has collision probability (1−p)^k at bit-disagreement
    * rate p, so exact recall at fixed p needs combinatorially many
    * Manku block-combination tables as keys widen). The consequence,
    * identical to Manku et al.'s production setting (d = 3 at 64 bits
    * for 8B pages): as the signature widens with corpus size, 7 bits
    * out of 64·lanes is a proportionally TIGHTER similarity bar — at
    * web scale this operator detects near-identical documents, and
    * borderline near-dups at the old 64-bit margin belong to
    * [[minhashLsh]], whose band index scales to arbitrary thresholds
    * by design. */
  val SimhashMaxHamming = 7
  private val SimhashBlocks = 8 // pigeonhole: d<=7 pairs agree on >=1 of 8 blocks

  /** Per-(block, value) population cap for candidate generation — the
    * [[ShingleDfCap]] discipline applied to the pigeonhole index. A
    * block value shared by more documents than this (boilerplate texts
    * voting the same block bits) would create a quadratic bucket in the
    * equi-join; dropping it bounds any bucket's pair count at ~cap².
    * Precision stays 1 (the Hamming check on surviving pairs is exact);
    * recall semantics: a pair is missed only when EVERY block the pair
    * agrees on is overfull — i.e. both docs are block-for-block
    * corpus-boilerplate. Identical-text clusters (the one natural source
    * of such buckets) are collapsed by [[exact]] dedup upstream in the
    * pipeline, which is the intended order of operations.
    *
    * With [[simhashLanesFor]] widening the signature as the corpus
    * grows, expected bucket population stays ≤ [[SimhashTargetPop]] and
    * this cap is what it should be: a hard guard against adversarial
    * skew, not the routine recall ceiling it was at a fixed 64 bits.
    *
    * Deliberately NOT tightened to chase join cost: real text skews
    * block values far past the uniform expectation (measured at sf0.1:
    * the top 8-bit bucket held half the corpus), but capping those
    * template buckets measurably costs true-dup recall — at cap 512
    * the ≥0.96-jaccard planted recall fell 217→175 of 256, because a
    * hamming-7 pair may agree ONLY on the common bands a template
    * bucket holds. Widening lanes instead tightens the FIXED hamming-7
    * threshold (same probe: recall 217→33 at 128 bits) — so the fat
    * candidate join at template-heavy corpora is the price of the
    * operator's recall contract, paid once per corpus against the
    * cached signature artifact. */
  val SimhashBucketCap = 4096L

  /** Width derivation target: expected docs per (block, value) bucket.
    * Same role as the LSH `lshBitsFor` target population. */
  val SimhashTargetPop = 64L

  /** Signature width for a corpus of n docs, in 64-bit lanes ∈
    * {1, 2, 4, 8}: the smallest width whose 8·lanes-bit block keys keep
    * the expected bucket population n/2^(8·lanes) at or under
    * [[SimhashTargetPop]] — `width ≈ blocks · log₂(n/targetPop)`
    * (SURVEY §5). The target also bounds join work: each doc meets at
    * most 8·pop candidates, so pop 64 keeps amplification ≤ 512×/doc.
    * n ≤ 16K stays 64-bit; ≤ ~4.2M is 128-bit; n = 10¹⁰ derives 4
    * lanes (256-bit signature, 8 blocks of 32 bits). Lane counts stay
    * powers of two so every block sits inside one lane. */
  def simhashLanesFor(n: Long): Int = {
    var lanes = 1
    while (lanes < 8 && (n >> (8 * lanes)) > SimhashTargetPop) lanes *= 2
    lanes
  }

  /** documents-table row count per dir and session, an
    * [[ArtifactCache]] value (the [[Similarity.corpusCount]] contract:
    * width derivation needs n before plan construction). */
  private def docCount(spark: SparkSession, dir: String): Long =
    ArtifactCache.value(spark, dir, "doc_count")(
      Tables.table(spark, dir, "documents").count())

  /** SimHash: width-scaled signature from token-hash bit voting (native
    * per-row expression — a pure map, no shuffle); candidate pairs via
    * the pigeonhole block index (a pair within Hamming distance 7 must
    * agree exactly on ≥1 of the 8 blocks, at ANY width), with overfull
    * buckets excluded from candidate generation ([[SimhashBucketCap]]).
    * Width grows with the corpus ([[simhashLanesFor]]) so buckets stay
    * sparse past the 64-bit saturation point (~1M docs). FULL oracle
    * since r15: signature bits come from the portable rolling-hash ×
    * quadratic-mix family ([[graft.functions.SimHashWide.vote]]), so
    * [[simhashOracleSql]] replays the whole pipeline in DuckDB. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val lanes = simhashLanesFor(docCount(spark, dir))
    simhashOnSigs(simhashSigs(spark, dir, lanes), SimhashBucketCap, lanes)
  }

  /** The corpus SimHash wide-signature table — trained-artifact
    * discipline: the signature pass IS the corpus scan. Without the
    * cache the self-join's two sides and the mega-bucket aggregate's
    * two references each re-scan AND re-hash the corpus — the plan
    * computes graft_simhash_wide 4× per document. Cached
    * (localCheckpoint'd), every reference reads the materialized
    * (doc_id, simhash) rows; only the cheap block explode re-runs. */
  private[graft] def simhashSigs(spark: SparkSession, dir: String,
      lanes: Int): DataFrame =
    ArtifactCache.of(spark, dir, "dd_simhash_sigs") {
      Tables.table(spark, dir, "documents").select(col("doc_id"),
        call_function("graft_simhash_wide", col("text"), lit(lanes))
          .as("simhash"))
    }

  def simhashOn(docs: DataFrame, cap: Long,
      lanes: Int = 1): DataFrame = {
    require(Set(1, 2, 4, 8).contains(lanes), s"lanes must be 1/2/4/8, got $lanes")
    val sig = docs.select(col("doc_id"),
      call_function("graft_simhash_wide", col("text"), lit(lanes)).as("simhash"))
    simhashOnSigs(sig, cap, lanes)
  }

  /** The bucket-join half of [[simhashOn]], over an already-computed
    * (doc_id, simhash) signature table. */
  private def simhashOnSigs(sig: DataFrame, cap: Long,
      lanes: Int): DataFrame = {
    val blockBits = 64 * lanes / SimhashBlocks
    // block b spans bits [b·blockBits, (b+1)·blockBits) of the wide
    // signature; with lanes a power of two each block sits inside a
    // single 64-bit lane (blockBits ∈ {8,16,32,64})
    def blockValue(b: Int): Column = {
      val bitPos = b * blockBits
      val laneCol = element_at(col("simhash"), lit(bitPos / 64 + 1))
      if (blockBits == 64) laneCol
      else shiftright(laneCol, bitPos % 64)
        .bitwiseAND(lit((1L << blockBits) - 1))
    }
    val blocks = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimhashBlocks).map(b =>
        struct(lit(b).as("blk"), blockValue(b).as("v"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.blk").as("blk"), col("bk.v").as("v"))
    // mega-bucket guard: the overfull list is tiny (≤ rows/cap keys),
    // partial-aggregates map-side, and broadcasts into the anti-join
    val mega = blocks.groupBy("blk", "v").agg(count(lit(1)).as("pop"))
      .where(col("pop") > cap).select("blk", "v")
    val kept = blocks.join(broadcast(mega), Seq("blk", "v"), "left_anti")
    val hamming = (0 until lanes).map(i =>
      bit_count(element_at(col("sim_a"), lit(i + 1))
        .bitwiseXOR(element_at(col("sim_b"), lit(i + 1))))).reduce(_ + _)
    // PROBE-SIDE PARALLELISM: the candidate join broadcasts the b side
    // (index-sized: ≤ 8 rows/doc of (id, sig, blk, v)), so pair
    // generation is probe work distributed over the a side's
    // partitions — which, undistributed, are the signature
    // checkpoint's few scan splits; the probe stage then runs Σpop²
    // hamming evaluations (36M at sf0.1, most of this query's task
    // time) on a handful of tasks (measured: wall 4.4 s vs summed task
    // time 6.9 s — one straggler). One exchange of the TINY pre-pair
    // rows (≤ 8·|docs| × ~40 B) spreads the probe work evenly: per-row
    // probe cost is its bucket's population, bounded by cap ≪ the
    // per-task pair budget at any np (guide §2.5/§2.6: distribute by
    // fine deterministic keys, never leave a fat stage on few tasks).
    val np = sig.sparkSession.sessionState.conf.numShufflePartitions
    kept.select(col("doc_id").as("a_id"), col("simhash").as("sim_a"), col("blk"), col("v"))
      // keyed on a_id ALONE: all 8 block rows of a doc stay in one
      // partition, so a pair rediscovered via several blocks collapses
      // in the distinct's MAP-SIDE partial aggregate (keying by
      // (a_id, blk) scattered the copies and tripled the distinct
      // exchange); per-doc probe weight is ≤ 8·cap, far under any
      // task's pair budget
      .repartition(np, col("a_id"))
      .join(kept.select(col("doc_id").as("b_id"), col("simhash").as("sim_b"), col("blk"), col("v")),
        Seq("blk", "v"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), hamming.as("hamming"))
      // filter BEFORE distinct: hamming is a function of the pair, so
      // the result is identical, but the dedup exchange now carries only
      // the (rare) passing pairs instead of every block-collision —
      // blocks duplicate each surviving pair up to 8×, and the
      // non-passing collisions dominate the candidate set
      .where(col("hamming") <= SimhashMaxHamming)
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** Deterministic eval-set membership: 1-in-50 hash bucket (~2% of
    * docs stand in for a benchmark suite). */
  val DecontamBenchMod = 50L

  /** 5-word overlap window — long enough that random same-vocabulary
    * docs rarely collide, short enough to catch paraphrase-level reuse
    * (real pipelines use 8-13; these docs are 10-99 tokens). */
  val DecontamShingleK = 5

  /** Benchmark decontamination: for every training document, count its
    * distinct [[DecontamShingleK]]-gram shingles that appear anywhere in
    * the eval set — the standard "n-gram overlap with the benchmark"
    * test-set-leakage check an LLM data pipeline runs before training.
    *
    * Scale shape: the eval side collapses to DISTINCT shingles of a
    * small fixed eval set → explicitly broadcast, so the training corpus
    * is scanned once map-side (native codegen shingling + broadcast
    * semi-join); the only shuffle is the per-doc hit count over matching
    * rows, which partial-aggregates before the exchange. */
  def decontam(spark: SparkSession, dir: String): DataFrame = {
    val withSh = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        Shingles.wordShinglesNative(col("text"), DecontamShingleK).as("shs"),
        (Curation.portableHash(col("doc_id")) % DecontamBenchMod === 0).as("is_bench"))
    val benchShingles = withSh.where(col("is_bench"))
      .select(explode(col("shs")).as("shingle")).distinct()
    val train = withSh.where(!col("is_bench"))
    val hits = train.select(col("doc_id"), explode(col("shs")).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    train.select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("hit_ratio", when(col("n_shingles") > 0,
        col("n_hits") * lit(1.0) / col("n_shingles")).otherwise(lit(0.0)))
      .withColumn("contaminated", col("n_hits") > 0)
      .orderBy("doc_id")
  }

  /** Incremental ingest dedup — the daily-crawl shape: dedup an
    * incoming batch (documents hashing to the "today" bucket) against
    * the existing corpus by content hash. The corpus side collapses to
    * its distinct hashes (narrow — at 100 TB this is the persisted
    * dedup index, not a rescan), the batch keeps first-wins within
    * itself (min doc_id per hash), and a row is `kept` iff its hash is
    * new to the corpus AND it is the batch's canonical copy. Two keyed
    * equi-joins on the 32-byte hash; no text ever shuffles. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val isBatch = Curation.portableHash(col("doc_id")) % 10 === 0
    val corpusHashes = docs.where(!isBatch)
      .select(col("h")).distinct().withColumn("in_corpus", lit(true))
    val batch = docs.where(isBatch)
    val canon = batch.groupBy("h").agg(min("doc_id").as("keep_id"))
    batch
      .join(canon, "h")
      .join(corpusHashes, Seq("h"), "left")
      .select(col("doc_id"),
        (col("in_corpus").isNull && col("doc_id") === col("keep_id")).as("kept"))
      .orderBy("doc_id")
  }

  /** Bloom-pruned incremental dedup — the same daily-crawl contract as
    * [[incrementalDedup]] but with the 100-TB shortcut: the corpus's
    * hash set is summarized into ONE bloom filter (built distributed via
    * Spark's own `BloomFilterAggregate`, map-side-merged partials), the
    * aggregate runs as a scalar subquery so the binary ships to
    * executors as a literal, and every batch row probes it per-row.
    * A negative probe is PROOF the hash is absent (blooms have no false
    * negatives), so the overwhelmingly-common "genuinely new" rows skip
    * the corpus join entirely — only probe-positive candidates (true
    * dups + the filter's few false positives) pay the exact
    * hash-equi-join verification. Net: the corpus-vs-batch shuffle
    * shrinks from |batch| rows to |dups|+ε rows; the result is EXACT
    * (bit-identical to the bloom-free plan), so it carries the full
    * DuckDB oracle. */
  def bloomIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("h"),
        (Curation.portableHash(col("doc_id")) % 10 === 0).as("is_batch"))
    val u = java.util.UUID.randomUUID().toString.replace("-", "")
    val corpusView = s"bloom_corpus_$u"
    val batchView = s"bloom_batch_$u"
    docs.where(!col("is_batch")).select("h").createOrReplaceTempView(corpusView)
    docs.where(col("is_batch")).select("doc_id", "h")
      .createOrReplaceTempView(batchView)
    // COALESCE against the empty-corpus NULL bloom — see [[admission]]
    val probed = spark.sql(
      s"""SELECT doc_id, h,
         |       COALESCE(graft_bloom_contains(
         |         (SELECT graft_bloom_agg(xxhash64(h)) FROM $corpusView),
         |         xxhash64(h)), FALSE) AS maybe
         |FROM $batchView""".stripMargin)
    val corpusHashes = docs.where(!col("is_batch"))
      .select(col("h")).distinct().withColumn("in_corpus", lit(true))
    val verified = probed.where(col("maybe"))
      .join(corpusHashes, Seq("h"), "left")
      .select(col("doc_id"), col("in_corpus").isNotNull.as("dup"))
    val fresh = probed.where(!col("maybe"))
      .select(col("doc_id"), lit(false).as("dup"))
    fresh.union(verified)
      .select(col("doc_id"), (!col("dup")).as("is_new"))
      .orderBy("doc_id")
  }

  /** The [[graft.functions.SimHashWide.vote]] quadratic chain as SQL
    * text over a `base` column: the ±1 vote for bit `j`. */
  private def simhashVoteSql(j: Int): String = {
    val m = graft.functions.HyperplaneSigs.HashMod
    val a = graft.functions.HyperplaneSigs.HashMult
    val c = graft.functions.HyperplaneSigs.MixAdd
    val idx = s"(base*${graft.functions.SimHashWide.BitStride} + $j)"
    val h1 = s"((($idx) % $m) * $a) % $m"
    val h2 = s"((($h1) * ($h1)) + $c) % $m"
    val h3 = s"(($h2) * $a) % $m"
    s"(CASE WHEN ($h3) < ${m / 2} THEN 1 ELSE -1 END)"
  }

  /** `dd_simhash` FULL REPLAY oracle (the r14 REPLAY-ORACLE pattern):
    * per distinct (doc, word) the portable rolling hash, 64 vote sums
    * as wide aggregates, the signed-BIGINT signature (bit 63 via the
    * −2⁶³ term — BIGINT can't hold +2⁶³), the 8 pigeonhole block
    * values assembled from the SAME votes (equal to Spark's
    * arithmetic-shift extraction), pop-capped block buckets, and the
    * Hamming-verified candidate join. Replays the `lanes = 1` width —
    * valid for every corpus under 16 640 docs ([[simhashLanesFor]]),
    * which covers all verified SFs; the error() guard makes a larger
    * corpus fail LOUDLY rather than silently diverge. */
  private lazy val simhashOracleSql: String = {
    val votes = (0 until 64).map(j =>
      s"SUM(${simhashVoteSql(j)}) AS v$j").mkString(",\n    ")
    val sigBits = (0 until 63).map(j =>
      s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val sig = s"($sigBits) + (CASE WHEN v63 > 0 THEN ${Long.MinValue} ELSE 0 END)"
    val blockSel = (0 until SimhashBlocks).map { b =>
      "(" + (0 until 8).map(j =>
        s"(CASE WHEN v${8 * b + j} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ") + s") AS b$b"
    }.mkString(",\n    ")
    val bUnion = (0 until SimhashBlocks).map(b =>
      s"SELECT doc_id, sig, $b AS blk, b$b AS v FROM sg").mkString("\nUNION ALL\n")
    s"""WITH chk AS (SELECT CASE WHEN (SELECT COUNT(*) FROM documents) >= 16640
       |  THEN error('corpus too large for the lanes=1 simhash replay')
       |  ELSE 0 END AS ok),
       |wd AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, w
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)),
       |wh AS MATERIALIZED (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(generate_series(1, length(w)),
       |             i -> CAST(unicode(substr(w,i,1)) AS BIGINT))),
       |           (acc,c) -> (acc*31+c) % ${graft.functions.RollingHash.Mod}) AS base
       |  FROM wd),
       |vt AS MATERIALIZED (
       |  SELECT doc_id,
       |    $votes
       |  FROM wh GROUP BY doc_id),
       |sg AS MATERIALIZED (
       |  SELECT doc_id, $sig AS sig,
       |    $blockSel
       |  FROM vt),
       |blocks AS MATERIALIZED ($bUnion),
       |mega AS (SELECT blk, v FROM blocks GROUP BY 1, 2
       |         HAVING COUNT(*) > $SimhashBucketCap),
       |kept AS (SELECT b.doc_id, b.sig, b.blk, b.v FROM blocks b
       |         ANTI JOIN mega m ON b.blk = m.blk AND b.v = m.v)
       |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM kept a JOIN kept b ON a.blk = b.blk AND a.v = b.v
       |                       AND a.doc_id < b.doc_id, chk
       |WHERE bit_count(xor(a.sig, b.sig)) <= $SimhashMaxHamming
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** `dd_lsh_calibration` FULL REPLAY oracle: the banding side
    * regenerates every MinHash band signature with the portable chain
    * ([[permHashSql]] / [[bandSigSql]] — the exact arithmetic the
    * Spark path and the streaming twin run), the exact side is the
    * uncapped threshold-curve pair join, and the theory column embeds
    * the SAME driver-loop doubles the Spark plan broadcasts (identical
    * JVM arithmetic at SQL-build time; shortest-repr literals
    * round-trip). */
  private lazy val lshCalibrationOracleSql: String = {
    val rpb = MinhashPerms / MinhashBands
    val mins = (0 until MinhashPerms).map(i =>
      s"MIN(${permHashSql("hs", i)}) AS m$i").mkString(",\n    ")
    val bandUnion = (0 until MinhashBands).map { b =>
      val sig = bandSigSql((b * rpb until (b + 1) * rpb).map(i => s"m$i"))
      s"SELECT doc_id, $b AS band, $sig AS sig FROM mins"
    }.mkString("\nUNION ALL\n")
    // the identical driver loop the Spark plan embeds via typedLit
    val theo = (0 to 10).map { d =>
      val m = math.min(1.0, (d + 0.5) / 10.0)
      var jr = 1.0
      (1 to rpb).foreach(_ => jr *= m)
      var miss = 1.0
      (1 to MinhashBands).foreach(_ => miss *= (1.0 - jr))
      // STRING cast: a bare 16-digit decimal literal parses as DECIMAL
      // first and the DECIMAL→DOUBLE conversion can land 1 ulp off the
      // shortest-repr double; VARCHAR→DOUBLE is strtod (exact round-trip)
      s"WHEN $d THEN CAST('${1.0 - miss}' AS DOUBLE)"
    }.mkString(" ")
    s"""WITH sh0 AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |           generate_series(1, len(t)-2),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
       |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
       |  WHERE len(t) >= 3),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh0 GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM sh0 a JOIN sh0 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ex AS MATERIALIZED (
       |  SELECT a_id, b_id,
       |         CAST(FLOOR(inter*1.0/(sa.n_sh + sb.n_sh - inter)*10) AS BIGINT)
       |           AS decile
       |  FROM inter JOIN sizes sa ON a_id = sa.doc_id
       |             JOIN sizes sb ON b_id = sb.doc_id
       |  WHERE inter*1.0/(sa.n_sh + sb.n_sh - inter) >= $CurveMinJaccard),
       |shh AS MATERIALIZED (
       |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(generate_series(1, length(shingle)),
       |             i -> CAST(unicode(substr(shingle,i,1)) AS BIGINT))),
       |           (acc,c) -> (acc*31+c) % ${graft.functions.RollingHash.Mod})
       |           AS hs
       |  FROM sh0),
       |mins AS MATERIALIZED (
       |  SELECT doc_id,
       |    $mins
       |  FROM shh GROUP BY doc_id),
       |bnd AS MATERIALIZED ($bandUnion),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |         FROM bnd a JOIN bnd b ON a.band = b.band AND a.sig = b.sig
       |                                AND a.doc_id < b.doc_id),
       |per AS (SELECT ex.decile, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |               CAST(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END)
       |                 AS BIGINT) AS n_collide
       |        FROM ex LEFT JOIN cand c
       |          ON ex.a_id = c.a_id AND ex.b_id = c.b_id
       |        GROUP BY 1)
       |SELECT decile, CAST(decile AS DOUBLE)/10 AS jaccard_lo,
       |       n_pairs, n_collide,
       |       CAST(n_collide AS DOUBLE) / CAST(n_pairs AS DOUBLE)
       |         AS empirical_rate,
       |       CASE decile $theo END AS theoretical_rate
       |FROM per ORDER BY decile""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dd_simhash", simhash, simhashOracleSql),
    QueryDef("dd_lsh_calibration", lshCalibration, lshCalibrationOracleSql),
    QueryDef("dd_exact", exact,
      """SELECT sha256(text) AS content_hash, COUNT(*) AS n_copies,
        |       MIN(doc_id) AS canonical_doc_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("dd_source_dup_profile", sourceDupProfile,
      s"""WITH RECURSIVE ${Curation.componentsCtes},
         |exd AS (SELECT doc_id,
         |          doc_id > MIN(doc_id) OVER (PARTITION BY text) AS is_exact_dup
         |        FROM documents),
         |nearf AS (SELECT doc_id,
         |            COUNT(*) OVER (PARTITION BY cluster_id) > 1 AS in_near
         |          FROM asg)
         |SELECT d.source, COUNT(*) AS n_docs,
         |       CAST(SUM(CASE WHEN exd.is_exact_dup THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_exact_dups,
         |       CAST(SUM(CASE WHEN exd.is_exact_dup THEN 1 ELSE 0 END)
         |            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS exact_dup_rate,
         |       CAST(SUM(CASE WHEN nearf.in_near THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_near_dup_docs,
         |       CAST(SUM(CASE WHEN nearf.in_near THEN 1 ELSE 0 END)
         |            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS near_dup_rate
         |FROM documents d JOIN exd USING (doc_id) JOIN nearf USING (doc_id)
         |GROUP BY 1 ORDER BY source""".stripMargin),
    QueryDef("dd_decontam_substr", decontamSubstr, {
      val bench = s"${Curation.portableHashSql("doc_id")} % $DecontamBenchMod = 0"
      s"""WITH grams AS (
         |  SELECT doc_id, ($bench) AS is_bench, gs.g AS pos,
         |         substring(text, gs.g::INT, 48) AS gram
         |  FROM documents,
         |       LATERAL unnest(generate_series(1, length(text) - 47)) AS gs(g)
         |  WHERE length(text) >= 48),
         |ev AS (SELECT DISTINCT gram FROM grams WHERE is_bench),
         |hits AS (SELECT g.doc_id, g.pos FROM grams g
         |         SEMI JOIN ev USING (gram) WHERE NOT g.is_bench),
         |marked AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN pos - COALESCE(LAG(pos) OVER
         |                (PARTITION BY doc_id ORDER BY pos), -48) > 48
         |              THEN 1 ELSE 0 END AS brk
         |  FROM hits),
         |isl AS (SELECT doc_id, pos,
         |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |        FROM marked),
         |sp AS (SELECT doc_id, island, MAX(pos) - MIN(pos) + 48 AS span_len
         |       FROM isl GROUP BY 1, 2),
         |cov AS (SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS leak_chars
         |        FROM sp GROUP BY 1)
         |SELECT d.doc_id, d.n_chars,
         |       COALESCE(c.leak_chars, 0) AS leak_chars,
         |       CASE WHEN d.n_chars = 0 THEN 0.0
         |            ELSE COALESCE(c.leak_chars, 0) / d.n_chars
         |            END AS leak_ratio,
         |       COALESCE(c.leak_chars, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN cov c USING (doc_id)
         |WHERE NOT ($bench)
         |ORDER BY d.doc_id""".stripMargin
    }),
    QueryDef("dd_dup_coverage", dupCoverage,
      """WITH grams AS (
        |  SELECT doc_id, gs.g AS pos, substring(text, gs.g::INT, 48) AS gram
        |  FROM documents,
        |       LATERAL unnest(generate_series(1, length(text) - 47)) AS gs(g)
        |  WHERE length(text) >= 48),
        |dg AS (SELECT gram FROM grams
        |       GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)),
        |hits AS (SELECT g.doc_id, g.pos FROM grams g SEMI JOIN dg USING (gram)),
        |marked AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos - COALESCE(LAG(pos) OVER
        |                (PARTITION BY doc_id ORDER BY pos), -48) > 48
        |              THEN 1 ELSE 0 END AS brk
        |  FROM hits),
        |isl AS (SELECT doc_id, pos,
        |          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |        FROM marked),
        |sp AS (SELECT doc_id, island, MAX(pos) - MIN(pos) + 48 AS span_len
        |       FROM isl GROUP BY 1, 2),
        |cov AS (SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS dup_chars
        |        FROM sp GROUP BY 1)
        |SELECT d.doc_id, d.n_chars,
        |       COALESCE(c.dup_chars, 0) AS dup_chars,
        |       CASE WHEN d.n_chars = 0 THEN 0.0
        |            ELSE COALESCE(c.dup_chars, 0) / d.n_chars END AS dup_ratio
        |FROM documents d LEFT JOIN cov c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
    QueryDef("dd_bloom", bloomIncrementalDedup, {
      val h = s"${Curation.portableHashSql("doc_id")} % 10"
      s"""WITH d AS (SELECT doc_id, sha256(text) AS h FROM documents),
         |c AS (SELECT DISTINCT h FROM d WHERE $h <> 0)
         |SELECT d.doc_id, c.h IS NULL AS is_new
         |FROM d LEFT JOIN c ON d.h = c.h
         |WHERE $h = 0
         |ORDER BY d.doc_id""".stripMargin
    }),
    QueryDef("dd_incremental", incrementalDedup, {
      val h = s"${Curation.portableHashSql("doc_id")} % 10"
      s"""WITH d AS (SELECT doc_id, sha256(text) AS h FROM documents),
         |b AS (SELECT * FROM d WHERE $h = 0),
         |c AS (SELECT DISTINCT h FROM d WHERE $h <> 0),
         |k AS (SELECT h, MIN(doc_id) AS keep_id FROM b GROUP BY 1)
         |SELECT b.doc_id,
         |       (c.h IS NULL AND b.doc_id = k.keep_id) AS kept
         |FROM b JOIN k ON b.h = k.h LEFT JOIN c ON b.h = c.h
         |ORDER BY b.doc_id""".stripMargin
    }),
    QueryDef("dd_ngram_jaccard", ngramJaccard, ngramJaccardOracle),
    QueryDef("dd_containment", containment, containmentOracle),
    QueryDef("dd_cross_overlap", crossOverlap,
      s"""WITH sh AS (
         |  SELECT DISTINCT source, shingle FROM (
         |    SELECT source, unnest(list_distinct(list_transform(
         |             generate_series(1, len(t)-2),
         |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
         |    FROM (SELECT source, string_split(text,' ') AS t FROM documents)
         |    WHERE len(t) >= 3)),
         |per AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         |ix AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
         |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
         |       GROUP BY 1,2)
         |SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
         |       CAST(pa.n_sh AS BIGINT) AS n_a, CAST(pb.n_sh AS BIGINT) AS n_b,
         |       n_common*1.0/(pa.n_sh + pb.n_sh - n_common) AS jaccard,
         |       n_common*1.0/pa.n_sh AS containment_a,
         |       n_common*1.0/pb.n_sh AS containment_b
         |FROM ix JOIN per pa ON src_a = pa.source JOIN per pb ON src_b = pb.source
         |ORDER BY src_a, src_b""".stripMargin),
    QueryDef("dd_chunk_dedup", chunkDedup, {
      // char-level mirror of graft_rolling_hash over the trailing 3-gram
      val g = "l3 || ' ' || l2 || ' ' || l1"
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tokens
         |            FROM documents),
         |pos AS (SELECT doc_id, unnest(generate_series(1, len(tokens))) AS i
         |        FROM tk),
         |toks AS (SELECT p.doc_id, i - 1 AS t, tokens[i] AS tok
         |         FROM pos p JOIN tk USING (doc_id)),
         |lagd AS (SELECT doc_id, t, tok,
         |           lag(tok, 3) OVER (PARTITION BY doc_id ORDER BY t) AS l3,
         |           lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY t) AS l2,
         |           lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY t) AS l1
         |         FROM toks),
         |cuts AS (SELECT doc_id, t,
         |           CASE WHEN t >= $ChunkGram AND
         |             list_reduce(list_transform(
         |               generate_series(1, length($g)),
         |               i -> CAST(unicode(substr($g, i, 1)) AS BIGINT)),
         |               (acc, c) -> (acc*31 + c) % ${RollingHash.Mod})
         |             % $ChunkMask = 0
         |           THEN 1 ELSE 0 END AS cut
         |         FROM lagd),
         |idx AS (SELECT doc_id, t,
         |          SUM(cut) OVER (PARTITION BY doc_id ORDER BY t) AS chunk_idx
         |        FROM cuts),
         |b AS (SELECT doc_id, chunk_idx, MIN(t) AS t_min, MAX(t) AS t_max
         |      FROM idx GROUP BY 1, 2),
         |ch AS (SELECT b.doc_id,
         |         array_to_string(tokens[t_min + 1 : t_max + 1], ' ') AS chunk
         |       FROM b JOIN tk ON b.doc_id = tk.doc_id),
         |occ AS (SELECT chunk, COUNT(*) AS n_occ FROM ch GROUP BY 1),
         |per AS (SELECT doc_id, COUNT(*) AS n_chunks,
         |          SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup_chunks
         |        FROM ch JOIN occ USING (chunk) GROUP BY 1)
         |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
         |       CAST(n_dup_chunks AS BIGINT) AS n_dup_chunks,
         |       CAST(n_dup_chunks AS DOUBLE)/CAST(n_chunks AS DOUBLE)
         |         AS dup_chunk_ratio
         |FROM per ORDER BY doc_id""".stripMargin
    }),
    QueryDef("dd_span", spanDedup, {
      val gram = (0 until SpanK).map(j => s"t[i+$j]").mkString(" || ' ' || ")
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           generate_series(1, len(t)-${SpanK - 1}), i -> $gram))) AS span
         |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
         |  WHERE len(t) >= $SpanK)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
         |FROM sh a JOIN sh b ON a.span = b.span AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }),
    // minhash+LSH is exact-verified; at these similarities its recall is
    // 1.0, so the exact-Jaccard oracle applies to it too.
    QueryDef("dd_minhash_lsh", minhashLsh, ngramJaccardOracle),
    QueryDef("dd_threshold_curve", thresholdCurve,
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           generate_series(1, len(t)-2),
         |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
         |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
         |  WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT inter*1.0/(sa.n_sh + sb.n_sh - inter) AS jaccard
         |      FROM inter JOIN sizes sa ON a_id = sa.doc_id
         |                 JOIN sizes sb ON b_id = sb.doc_id
         |      WHERE inter*1.0/(sa.n_sh + sb.n_sh - inter) >= $CurveMinJaccard),
         |h AS (SELECT CAST(FLOOR(jaccard*10) AS BIGINT) AS decile,
         |             COUNT(*) AS n_pairs_exact
         |      FROM j GROUP BY 1)
         |SELECT a.decile, CAST(a.decile AS DOUBLE)/10 AS jaccard_lo,
         |       a.n_pairs_exact,
         |       CAST(SUM(b.n_pairs_exact) AS BIGINT) AS n_pairs_at_least
         |FROM h a LEFT JOIN h b ON b.decile >= a.decile
         |GROUP BY 1, 2, 3 ORDER BY a.decile""".stripMargin),
    QueryDef("dd_df_hist", dfHist,
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |d AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
        |SELECT df, COUNT(*) AS n_shingles
        |FROM d GROUP BY 1 ORDER BY df""".stripMargin),
    QueryDef("dd_method_report", methodReport, {
      def pairSql(name: String, sub: String) =
        s"""SELECT '$name' AS method,
           |       (SELECT COUNT(*) FROM ($sub)) AS n_pairs,
           |       (SELECT COUNT(*) FROM (SELECT a_id AS id FROM ($sub)
           |                              UNION SELECT b_id FROM ($sub))) AS n_docs"""
          .stripMargin
      s"""SELECT * FROM (
         |SELECT 'exact' AS method,
         |       CAST(COALESCE(SUM(n*(n-1)//2), 0) AS BIGINT) AS n_pairs,
         |       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_docs
         |FROM (SELECT COUNT(*) AS n FROM documents GROUP BY sha256(text)
         |      HAVING COUNT(*) >= 2)
         |UNION ALL
         |${pairSql("ngram_jaccard", ngramJaccardOracle)}
         |UNION ALL
         |${pairSql("minhash_lsh", ngramJaccardOracle)}
         |UNION ALL
         |${pairSql("containment", containmentOracle)}
         |) ORDER BY method""".stripMargin
    }),
    QueryDef("dd_minhash_incremental", minhashIncremental, {
      val h = Curation.portableHashSql("doc_id")
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           generate_series(1, len(t)-2),
         |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
         |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
         |  WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         |ash AS (SELECT doc_id, shingle FROM sh WHERE ($h) % 10 = 0),
         |bsh AS (SELECT doc_id, shingle FROM sh WHERE ($h) % 10 <> 0),
         |inter AS (SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
         |                 COUNT(*) AS inter
         |          FROM ash a JOIN bsh b USING (shingle) GROUP BY 1, 2),
         |p AS (SELECT batch_id, corpus_id,
         |             inter*1.0/(sa.n_sh + sb.n_sh - inter) AS jaccard
         |      FROM inter JOIN sizes sa ON batch_id = sa.doc_id
         |                 JOIN sizes sb ON corpus_id = sb.doc_id
         |      WHERE inter*1.0/(sa.n_sh + sb.n_sh - inter) >= $JaccardThreshold),
         |m AS (SELECT batch_id, COUNT(*) AS n, MAX(jaccard) AS mx
         |      FROM p GROUP BY 1),
         |batch AS (SELECT doc_id FROM documents WHERE ($h) % 10 = 0)
         |SELECT doc_id, COALESCE(n, 0) AS n_corpus_matches, mx AS max_jaccard,
         |       COALESCE(n, 0) = 0 AS novel
         |FROM batch LEFT JOIN m ON doc_id = batch_id
         |ORDER BY doc_id""".stripMargin
    }),
    QueryDef("dd_admission", admission, {
      val h = Curation.portableHashSql("doc_id")
      s"""WITH d AS (SELECT doc_id, text, sha256(text) AS h,
         |                  (($h) % 10 = 0) AS is_batch
         |           FROM documents),
         |cx AS (SELECT h, MIN(doc_id) AS exact_witness FROM d
         |       WHERE NOT is_batch GROUP BY 1),
         |fb AS (SELECT h, MIN(doc_id) AS first_batch_id FROM d
         |       WHERE is_batch GROUP BY 1),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           generate_series(1, len(t)-2),
         |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
         |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
         |  WHERE len(t) >= 3),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
         |ash AS (SELECT doc_id, shingle FROM sh WHERE ($h) % 10 = 0),
         |bsh AS (SELECT doc_id, shingle FROM sh WHERE ($h) % 10 <> 0),
         |inter AS (SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
         |                 COUNT(*) AS inter
         |          FROM ash a JOIN bsh b USING (shingle) GROUP BY 1, 2),
         |p AS (SELECT batch_id, corpus_id,
         |             inter*1.0/(sa.n_sh + sb.n_sh - inter) AS jaccard
         |      FROM inter JOIN sizes sa ON batch_id = sa.doc_id
         |                 JOIN sizes sb ON corpus_id = sb.doc_id
         |      WHERE inter*1.0/(sa.n_sh + sb.n_sh - inter) >= $JaccardThreshold),
         |nm AS (SELECT batch_id, COUNT(*) AS near_matches,
         |              MAX(jaccard) AS max_jaccard
         |       FROM p GROUP BY 1),
         |nw AS (SELECT p.batch_id, MIN(p.corpus_id) AS near_witness
         |       FROM p JOIN nm ON p.batch_id = nm.batch_id
         |                     AND p.jaccard = nm.max_jaccard
         |       GROUP BY 1),
         |g AS (SELECT doc_id, is_batch,
         |             substring(text, gs.g::INT, $CoverageK) AS gram
         |      FROM d, LATERAL unnest(generate_series(1,
         |             length(text) - ${CoverageK - 1})) AS gs(g)
         |      WHERE length(text) >= $CoverageK),
         |cg AS (SELECT gram, MIN(doc_id) AS gw FROM g
         |       WHERE NOT is_batch GROUP BY 1),
         |sb AS (SELECT g.doc_id, MIN(cg.gw) AS substr_witness
         |       FROM g JOIN cg USING (gram) WHERE g.is_batch GROUP BY 1),
         |emb AS (SELECT vec_id,
         |               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         |               (${Curation.portableHashSql("vec_id")} % 10 = 0) AS ib
         |        FROM embeddings),
         |sp AS (SELECT b.vec_id AS batch_id, c.vec_id AS corpus_id,
         |              list_dot_product(b.e, c.e)
         |                / (SQRT(list_dot_product(b.e, b.e))
         |                   * SQRT(list_dot_product(c.e, c.e))) AS cosine
         |       FROM emb b, emb c
         |       WHERE b.ib AND NOT c.ib),
         |sq AS (SELECT batch_id, corpus_id, cosine FROM sp
         |       WHERE cosine >= ${Similarity.NearDupThreshold}),
         |sm AS (SELECT batch_id, COUNT(*) AS sem_matches,
         |              MAX(cosine) AS max_sem_cos
         |       FROM sq GROUP BY 1),
         |sw AS (SELECT sq.batch_id, MIN(sq.corpus_id) AS sem_witness
         |       FROM sq JOIN sm ON sq.batch_id = sm.batch_id
         |                      AND sq.cosine = sm.max_sem_cos
         |       GROUP BY 1),
         |${Url.variantCteSql},
         |av AS (SELECT doc_id, url, canon_url FROM v
         |       WHERE variant = doc_id % ${Url.UrlVariants}),
         |uf AS (SELECT DISTINCT canon_url FROM av
         |       WHERE NOT (($h) % 10 = 0) AND canon_url IS NOT NULL),
         |us AS (SELECT av.doc_id, av.canon_url,
         |              av.canon_url IS NOT NULL AS url_valid,
         |              uf.canon_url IS NOT NULL AS url_known
         |       FROM av LEFT JOIN uf ON av.canon_url = uf.canon_url
         |       WHERE ($h) % 10 = 0)
         |SELECT b.doc_id,
         |       cx.exact_witness IS NOT NULL AS exact_dup_corpus,
         |       cx.exact_witness,
         |       b.doc_id > fb.first_batch_id AS exact_dup_in_batch,
         |       fb.first_batch_id,
         |       CAST(COALESCE(nm.near_matches, 0) AS BIGINT) AS near_matches,
         |       nm.max_jaccard,
         |       nw.near_witness,
         |       sb.substr_witness IS NOT NULL AS substr_hit,
         |       sb.substr_witness,
         |       CAST(COALESCE(sm.sem_matches, 0) AS BIGINT) AS sem_matches,
         |       sm.max_sem_cos,
         |       sw.sem_witness,
         |       us.canon_url,
         |       COALESCE(us.url_valid, FALSE) AS url_valid,
         |       COALESCE(us.url_known, FALSE) AS url_known,
         |       (cx.exact_witness IS NULL AND b.doc_id = fb.first_batch_id
         |        AND COALESCE(nm.near_matches, 0) = 0
         |        AND sb.substr_witness IS NULL
         |        AND COALESCE(sm.sem_matches, 0) = 0
         |        AND NOT COALESCE(us.url_known, FALSE)) AS admitted
         |FROM d b
         |LEFT JOIN cx USING (h)
         |JOIN fb USING (h)
         |LEFT JOIN nm ON b.doc_id = nm.batch_id
         |LEFT JOIN nw ON b.doc_id = nw.batch_id
         |LEFT JOIN sb ON b.doc_id = sb.doc_id
         |LEFT JOIN sm ON b.doc_id = sm.batch_id
         |LEFT JOIN sw ON b.doc_id = sw.batch_id
         |LEFT JOIN us ON b.doc_id = us.doc_id
         |WHERE b.is_batch
         |ORDER BY b.doc_id""".stripMargin
    }),
    QueryDef("dd_decontam", decontam, decontamOracle),
    QueryDef("dd_contam_report", contamReport,
      s"""WITH dec AS (SELECT * FROM ($decontamOracle))
         |SELECT d.source, COUNT(*) AS n_train_docs,
         |       CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_contaminated,
         |       CAST(SUM(n_hits) AS BIGINT) AS total_hits,
         |       CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS contamination_rate
         |FROM dec JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin))

  private lazy val decontamOracle: String = {
      val benchHash = Curation.portableHashSql("doc_id")
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           generate_series(1, len(t)-${DecontamShingleK - 1}),
         |           i -> ${(0 until DecontamShingleK.toInt)
                .map(j => s"t[i+$j]").mkString(" || ' ' || ")}))) AS shingle
         |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
         |  WHERE len(t) >= $DecontamShingleK),
         |bench AS (SELECT DISTINCT shingle FROM sh
         |          WHERE $benchHash % $DecontamBenchMod = 0),
         |counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |train AS (
         |  SELECT d.doc_id, COALESCE(c.n, 0) AS n_shingles
         |  FROM documents d LEFT JOIN counts c USING (doc_id)
         |  WHERE $benchHash % $DecontamBenchMod <> 0),
         |hits AS (
         |  SELECT s.doc_id, COUNT(*) AS n_hits
         |  FROM sh s JOIN bench USING (shingle)
         |  WHERE ${Curation.portableHashSql("s.doc_id")} % $DecontamBenchMod <> 0
         |  GROUP BY 1)
         |SELECT t.doc_id, t.n_shingles, COALESCE(h.n_hits, 0) AS n_hits,
         |       CASE WHEN t.n_shingles > 0
         |            THEN COALESCE(h.n_hits, 0)*1.0/t.n_shingles
         |            ELSE 0.0 END AS hit_ratio,
         |       COALESCE(h.n_hits, 0) > 0 AS contaminated
         |FROM train t LEFT JOIN hits h USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }

  /** The exact near-dup pair set as reusable CTEs ending in
    * `pairs(a_id, b_id, jaccard)` — shared with [[Curation]]'s
    * connected-components oracle. */
  private[operators] lazy val ngramPairCtes: String =
    s"""sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |           generate_series(1, len(t)-2),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
       |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
       |  WHERE len(t) >= 3),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1,2),
       |pairs AS (
       |  SELECT a_id, b_id,
       |         inter*1.0/(sa.n_sh + sb.n_sh - inter) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON a_id = sa.doc_id
       |  JOIN sizes sb ON b_id = sb.doc_id
       |  WHERE inter*1.0/(sa.n_sh + sb.n_sh - inter) >= $JaccardThreshold)""".stripMargin

  private lazy val ngramJaccardOracle: String =
    s"""WITH $ngramPairCtes
       |SELECT a_id, b_id, jaccard FROM pairs
       |ORDER BY a_id, b_id""".stripMargin

  /** Containment oracle: same sh/sizes/inter CTEs, asymmetric final
    * predicate (the unused `pairs` CTE is never evaluated). */
  private lazy val containmentOracle: String =
    s"""WITH $ngramPairCtes
       |SELECT a_id, b_id, sa.n_sh AS n_a, sb.n_sh AS n_b,
       |       inter*1.0/LEAST(sa.n_sh, sb.n_sh) AS containment
       |FROM inter
       |JOIN sizes sa ON a_id = sa.doc_id
       |JOIN sizes sb ON b_id = sb.doc_id
       |WHERE inter*1.0/LEAST(sa.n_sh, sb.n_sh) >= $ContainmentThreshold
       |  AND LEAST(sa.n_sh, sb.n_sh) >= $ContainMinShingles
       |ORDER BY a_id, b_id""".stripMargin
}
