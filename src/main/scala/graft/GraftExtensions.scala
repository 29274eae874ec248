package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ArrayDotProduct, ArrayScale, BloomOps, CharDeletionHashes, CharDeletions, HeavyHitters, HtmlExtract, HyperplaneSigs, NearestCells, NearestCentroid, RollingHash, SimHashWide, TokenSetHits, TokenStats, TopKByScore, UrlCanon, WordShingles}
import graft.sources.FkJoinElimination

/** Session extension installing graft's native expressions as SQL
  * functions and its one optimizer rule, [[FkJoinElimination]]. It is
  * the ONLY place either is installed: the Column helpers under
  * `graft.functions` and every operator emit plain
  * `call_function("graft_…")` calls that resolve through it, and the
  * `Tables` views rely on the rule to drop foreign-key joins nothing
  * reads, so every session that runs graft code must install it.
  * `SparkConfigs.local` and `SparkConfigs.cluster100TB` do; on a session
  * built without it the analyzer fails with `UNRESOLVED_ROUTINE` naming
  * the function. To install it elsewhere:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions()) ...
  * }}}
  *
  * after which `SELECT graft_simhash_wide(text, 1) FROM docs` parses and
  * codegens like a builtin. The rule joins the optimizer's
  * operator-optimization batch through `injectOptimizerRule`; the same
  * hook would add a `SparkStrategy` via `injectPlannerStrategy` if an
  * operator ever needs a bespoke physical plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => FkJoinElimination)

    def inject(name: String, usage: String,
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""),
        builder))

    inject("graft_rolling_hash",
      "polynomial rolling-hash fingerprint of a string", RollingHash.builder)
    inject("graft_simhash_wide",
      "width-scaled SimHash of space-tokenized text as n 64-bit lanes",
      SimHashWide.builder)
    inject("graft_word_shingles",
      "distinct k-word shingles of text", WordShingles.shinglesBuilder)
    inject("graft_word_ngrams",
      "all k-word grams of text in position order", WordShingles.ngramsBuilder)
    inject("graft_dot",
      "dot product of two array<double> columns", ArrayDotProduct.builder)
    inject("graft_scale",
      "element-wise division of an array<double> by a scalar", ArrayScale.builder)
    inject("graft_top_k_by_score",
      "top-k (score, id) pairs per group via a bounded heap",
      TopKByScore.builder)
    inject("graft_hyperplane_sigs",
      "per-table hyperplane-LSH sign-bit signatures of an embedding",
      HyperplaneSigs.builder)
    inject("graft_token_set_hits",
      "count of space-tokens present in a literal token set (duplicates counted)",
      TokenSetHits.builder)
    inject("graft_token_stats",
      "per-document token, type, hapax, repeat-pair and 2/3-gram counts as one struct",
      TokenStats.builder)
    inject("graft_nearest_cells",
      "indices of the n nearest centroids to a vector (IVF assign/probe)",
      NearestCells.builder)
    inject("graft_nearest_centroid",
      "(cell, d2) of the nearest centroid by e·e − 2e·c + c·c (k-means assign)",
      NearestCentroid.builder)
    inject("graft_heavy_hitters",
      "Misra-Gries frequent-items candidates (id, est) with k counters",
      HeavyHitters.builder)
    inject("graft_char_deletions",
      "single-deletion neighborhood of a string (SymSpell blocking keys)",
      CharDeletions.builder)
    inject("graft_char_deletion_hashes",
      "XXH64 hashes of the deletion neighborhood (allocation-free blocking keys)",
      CharDeletionHashes.builder)
    inject("graft_char_deletion_hashlens",
      "deletion-neighborhood keys with code-point length packed into the top 16 bits",
      CharDeletionHashes.packedBuilder)
    inject("graft_bloom_agg",
      "distributed bloom-filter build over long keys (merge-safe partials)",
      BloomOps.aggBuilder)
    inject("graft_bloom_contains",
      "bloom-filter probe; false = proof of absence",
      BloomOps.containsBuilder)
    inject("graft_html_parsed",
      "full HTML parse as one struct (text + block census in a single page walk)",
      HtmlExtract.parsedBuilder)
    inject("graft_html_links",
      "href values of anchor opening tags in document order",
      HtmlExtract.linksBuilder)
    inject("graft_url_canon",
      "canonical form of a URL (case, default port, tracking params, fragment)",
      UrlCanon.canonBuilder)
    inject("graft_url_host",
      "canonical host of a URL (lowercased, default port stripped)",
      UrlCanon.hostBuilder)
    inject("graft_chunk_hashes",
      "sha2-256 hex keys of content-defined chunks (gear/CDC cut rule)",
      graft.functions.ChunkHashes.builder)
  }
}
