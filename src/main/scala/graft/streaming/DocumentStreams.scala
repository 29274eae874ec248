package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Streaming document-ingest operators: the stream-side halves of the
  * corpus-maintenance contracts in [[graft.operators.Dedup]].
  */
object DocumentStreams {

  /** Streaming near-dup ingest screen — the stream-static half of
    * [[graft.operators.Dedup.minhashIncremental]]: each arriving
    * document's MinHash band keys are computed PER ROW (no shuffle, no
    * state — the banded signature collapses to 16 map-side
    * expressions), then joined against the standing corpus bucket
    * table. Emits one row per (doc, corpus-candidate, band) hit; the
    * tiny per-doc rollup + exact Jaccard verify run batch-side where
    * the quarantine decision lands — the same division of labor as the
    * trending and cart-flag streams.
    *
    * The per-row signature MUST equal the batch path's bit-for-bit
    * (same shingle kernel, same portable rolling-hash × quadratic-mix
    * permutation chain, same band fold — [[Dedup.permHashSql]] /
    * [[Dedup.bandSigCol]] are the single shared definitions) —
    * asserted by the parity spec; a drifted literal silently empties
    * every bucket hit. */
  def nearDupScreenStream(docs: DataFrame, corpusBuckets: DataFrame): DataFrame = {
    val perms = Dedup.MinhashPerms
    val bands = Dedup.MinhashBands
    val rowsPerBand = perms / bands
    val withSh = docs
      .withColumn("shs",
        call_function("graft_word_shingles", col("text"), lit(3)))
      .where(size(col("shs")) > 0)
      // one rolling hash per shingle, shared by all 64 permutations
      .withColumn("hss", expr("transform(shs, s -> graft_rolling_hash(s))"))
    // per-row minima: transform+array_min are CodegenFallback, but this
    // is the STREAM side — micro-batch row counts, not the 100 TB scan
    // (the batch/corpus side uses the aggregated native path)
    val mCols = (0 until perms).map(i =>
      expr(s"array_min(transform(hss, h -> ${Dedup.permHashSql("h", i)}))")
        .as(s"m$i"))
    val sigs = withSh.select((col("doc_id") +: mCols): _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        Dedup.bandSigCol((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"m$i"))).as("sig")).as(s"b$b")
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
      .join(corpusBuckets
          .select(col("doc_id").as("corpus_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("doc_id"), col("corpus_id"), col("band"))
  }

  /** Streaming exact-substring ingest screen — the stream-static half
    * of [[graft.operators.Dedup.dupCoverage]]'s contract: each
    * arriving document's [[graft.operators.Dedup.CoverageK]]-char gram
    * hashes are computed PER ROW (a stateless map-side transform —
    * CodegenFallback is fine on micro-batch row counts; the corpus
    * side uses the native batch kernel), stream-static joined against
    * the standing corpus gram-hash index
    * ([[graft.operators.Dedup.gramHashIndexOf]]). Emits one row per
    * (doc, pos, corpus witness) verbatim-substring hit; the coverage
    * rollup (gaps-and-islands union) runs batch-side where the
    * quarantine decision lands.
    *
    * The per-row hash MUST equal the batch kernel's bit-for-bit (same
    * substr window, same xxhash64) — asserted by the parity spec. */
  def dupCoverageScreenStream(docs: DataFrame, corpusGrams: DataFrame): DataFrame = {
    val k = Dedup.CoverageK
    docs.where(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(1, length(text) - ${k - 1}), " +
            s"p -> named_struct('pos', p, " +
            s"'gh', xxhash64(substring(text, p, $k))))")).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))
      .join(corpusGrams.select(col("gh"), col("corpus_id")), "gh")
      .select(col("doc_id"), col("pos"), col("corpus_id"))
  }
}
