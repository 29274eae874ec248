package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, TextAnalysis}

/** The LLM training-data curation DAG as one composable library call —
  * the curation twin of the retail medallion [[Pipeline]]: ingest →
  * exact dedup → near-dup resolution (quality-aware canonical) →
  * quality ∧ language gate → benchmark decontamination → corpus DQ
  * gate → deterministic shuffle manifest, written as the curated layer
  * of a lake.
  *
  * Every stage is a doc_id-keyed filter joined onto the survivor set,
  * so the composed plan stays co-partitioned on doc_id; the only
  * driver-side values are the per-stage survivor counts (one number per
  * stage — the run report) and the boolean DQ verdict, mirroring the
  * retail pipeline's O(1)-driver-traffic rule. At 100 TB each stage is
  * exactly its standalone operator (same code, oracle-checked
  * individually); the pipeline adds only the joins between them.
  */
object TrainingDataPipeline {

  /** Floor on the fraction of documents that may survive curation —
    * below it the run is declared failed (a mis-tuned filter emptying
    * the corpus should stop a training run, not feed it). */
  val MinSurvivorFrac = 0.15

  /** Boilerplate budget: a doc losing more than this fraction of its
    * tokens to repeated-trigram removal is template spam. */
  val MaxRemovedFrac = 0.2

  final case class RunResult(
      stageCounts: Seq[(String, Long)],
      dqPassed: Boolean,
      manifestPath: String,
      sigIndexPath: String)

  /** Index-backed admission verdict for a NEW batch — the production
    * form of `dd_admission`'s composed screens, one row per batch doc:
    * exact-within-batch first-copy-wins (two identical docs in today's
    * crawl must not both land) and the persisted-signature near-dup
    * screen ([[Dedup.screenAgainstIndex]] — corpus signatures are
    * read, never recomputed; corpus text is fetched only for candidate
    * docs). `admitted` = batch-canonical AND corpus-novel. Batch-sized
    * work against a 100-TB standing corpus. */
  def admissionVerdict(spark: SparkSession, batch: DataFrame,
      corpusDocs: DataFrame, sigIndexPath: String): DataFrame = {
    val hashed = batch.select(col("doc_id"), sha2(col("text"), 256).as("h"))
    val firstInBatch = hashed.groupBy("h").agg(min("doc_id").as("first_batch_id"))
    val screen = Dedup.screenAgainstIndex(spark, batch, corpusDocs, sigIndexPath)
    hashed.join(firstInBatch, Seq("h"))
      .join(screen, Seq("doc_id"))
      .select(col("doc_id"),
        (col("doc_id") > col("first_batch_id")).as("exact_dup_in_batch"),
        col("first_batch_id"),
        col("n_corpus_matches"), col("max_jaccard"), col("novel"),
        (col("novel") && col("doc_id") === col("first_batch_id"))
          .as("admitted"))
      .orderBy("doc_id")
  }

  /** Ingest gate for a NEW batch against an already-curated corpus:
    * admit exactly the [[admissionVerdict]]-clear documents. The
    * daily-crawl entry point. */
  def ingestBatch(spark: SparkSession, batch: DataFrame,
      corpusDocs: DataFrame, sigIndexPath: String): DataFrame = {
    val verdict = admissionVerdict(spark, batch, corpusDocs, sigIndexPath)
    batch.join(verdict.where(col("admitted")).select("doc_id"),
      Seq("doc_id"), "left_semi")
  }

  /** Full curation run over `<srcDir>/documents.parquet`; writes the
    * final training manifest under `<lakeBase>/curated/manifest`. */
  def run(spark: SparkSession, srcDir: String, lakeBase: String): RunResult = {
    val docs = graft.sources.Tables.table(spark, srcDir, "documents")
      .select("doc_id", "lang")

    // stage 1 — exact dedup: keep the canonical copy of every
    // identical-text cluster (collapses the mega-clusters that would
    // otherwise degrade the near-dup stage's buckets)
    val exactCanonical = Dedup.exact(spark, srcDir)
      .select(col("canonical_doc_id").as("doc_id"))

    // stage 2 — near-dup resolution: quality-aware canonical per
    // n-gram-Jaccard component (keep the best-written copy, not the
    // numerically-first)
    val nearCanonical = Curation.canonicalByQuality(spark, srcDir)
      .where(col("is_canonical")).select("doc_id")

    // stage 3 — quality ENSEMBLE ∧ language gate: the blended filter
    // (surface heuristics + repetition + lexical diversity) is harder
    // to game than any single signal; single-signal `passed` remains a
    // component inside the ensemble
    val qualityPass = TextAnalysis.qualityEnsemble(spark, srcDir)
      .where(col("keep")).select("doc_id")
    // stage 3b — TRAINED quality filter beside the blend: the logistic
    // classifier distilled from the ensemble labels (txt_quality_lr).
    // In this bootstrap the ensemble supplies the labels, so the gate
    // mostly agrees with stage 3 — the point is the SEAM: a deployment
    // retrains on reference-corpus labels and this stage diverges from
    // the blend without touching the DAG
    val qualityLrPass = TextAnalysis.qualityLr(spark, srcDir)
      .where(col("keep_lr")).select("doc_id")

    val langPass = TextAnalysis.langId(spark, srcDir)
      .where(col("pred_lang") === "en").select("doc_id")

    // stage 4 — boilerplate budget: documents whose repeated-trigram
    // removal would strip more than MaxRemovedFrac are template spam
    // (the stripRepeats transform doubles as this filter signal)
    val repetitionPass = TextAnalysis.stripRepeats(spark, srcDir)
      .where(col("removed_fraction") <= MaxRemovedFrac).select("doc_id")

    // stage 4b — Gopher top-gram occupancy: a document whose single
    // most repeated 2/3/4-gram occupies more than the published
    // character share is a slogan-stamping crawler loop — the failure
    // mode the distinct-dup budget above barely registers
    val topgramPass = TextAnalysis.topgramShare(spark, srcDir)
      .where(!col("flagged")).select("doc_id")

    // stage 5 — benchmark decontamination, both granularities: any
    // eval-set word-8-gram overlap OR verbatim 48-char run disqualifies
    // (each screen excludes the eval docs themselves; the char screen
    // catches tokenization evasions the word screen misses)
    val decontamPass = Dedup.decontam(spark, srcDir)
      .where(!col("contaminated")).select("doc_id")
    val decontamSubstrPass = Dedup.decontamSubstr(spark, srcDir)
      .where(!col("contaminated")).select("doc_id")

    val stages: Seq[(String, DataFrame)] = Seq(
      "exact_dedup"   -> exactCanonical,
      "near_dup"      -> nearCanonical,
      "quality"       -> qualityPass,
      "quality_lr"    -> qualityLrPass,
      "lang"          -> langPass,
      "repetition"    -> repetitionPass,
      "topgram"       -> topgramPass,
      "decontam"      -> decontamPass,
      "decontam_substr" -> decontamSubstrPass)

    // fold the survivor set through the stages; count each frontier
    // (one driver-side long per stage — the run report)
    val initial = docs.select("doc_id")
    var frontier = initial
    val counts = Seq.newBuilder[(String, Long)]
    counts += ("ingest" -> frontier.count())
    stages.foreach { case (name, keep) =>
      frontier = frontier.join(keep, Seq("doc_id"), "left_semi")
      counts += (name -> frontier.count())
    }

    // corpus DQ gate: curation must keep a sane fraction
    val stageCounts = counts.result()
    val dqPassed =
      stageCounts.last._2 >= (stageCounts.head._2 * MinSurvivorFrac).toLong &&
        stageCounts.last._2 > 0

    // final manifest: survivors in the deterministic training order
    // (bijective-hash shuffle key — the smp_shuffle contract), with
    // lang + quality for downstream mixing, the leakage-safe CV fold
    // (near-dup clusters never straddle folds), and the cross-doc
    // duplicated-text share riding along. dup_ratio is a WEIGHTING
    // signal, not a drop gate: the canonical stages already keep one
    // copy per dup cluster, so a surviving doc with high coverage is
    // the kept witness of duplicated content — downstream mixing
    // down-weights it (soft dedup) instead of losing the content
    // host_weight rides along with dup_ratio as a second WEIGHTING
    // signal: the host link-graph prior (smp_host_weighted) — pages on
    // well-endorsed hosts get upsampled by downstream mixing, the
    // CCNet/RefinedWeb crawl-quality move
    val manifest = frontier
      .join(docs, Seq("doc_id"))
      .join(TextAnalysis.quality(spark, srcDir)
        .select("doc_id", "quality_score"), Seq("doc_id"))
      .join(Curation.kfoldAssign(spark, srcDir)
        .select("doc_id", "fold"), Seq("doc_id"))
      .join(Dedup.dupCoverage(spark, srcDir)
        .select("doc_id", "dup_ratio"), Seq("doc_id"))
      .join(Curation.hostWeighted(spark, srcDir)
        .select(col("doc_id"), col("weight").as("host_weight")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("quality_score"), col("fold"),
        col("dup_ratio"), col("host_weight"),
        Curation.portableHash(col("doc_id")).as("shuffle_key"))
      .orderBy("shuffle_key", "doc_id")
    val path = s"$lakeBase/curated/manifest"
    manifest.write.mode("overwrite").parquet(path)

    // the standing near-dup index for future [[ingestBatch]] screens:
    // banded signatures of the SURVIVOR corpus, persisted so tomorrow's
    // batch never re-shingles today's corpus
    val sigPath = s"$lakeBase/curated/sig_index"
    val curatedDocs = graft.sources.Tables.table(spark, srcDir, "documents")
      .select("doc_id", "text")
      .join(frontier, Seq("doc_id"), "left_semi")
    Dedup.writeSignatureIndex(curatedDocs, sigPath)

    RunResult(stageCounts, dqPassed, path, sigPath)
  }
}
