package graft

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables

/** Focused equality pin for the r15 `dd_chunk_dedup` optimization: the
  * native [[graft.functions.ChunkHashes]] map pass must produce the
  * EXACT multiset of chunk sha2 keys per document that the original
  * posexplode + doc-window + bounds-join derivation produced —
  * including the edge shapes the corpus may not exercise (trailing
  * spaces kept by split(..., -1), docs shorter than the gram, empty
  * text, consecutive cuts). */
class ChunkHashesSpec extends SparkSpec {

  /** The ORIGINAL (pre-r15) chunk-key derivation, verbatim. */
  private def oldChunks(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("t", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("t")
    val gram = concat_ws(" ",
      lag(col("tok"), 3).over(w), lag(col("tok"), 2).over(w),
      lag(col("tok"), 1).over(w))
    val cut = (col("t") >= Dedup.ChunkGram) &&
      (graft.functions.RollingHash.rollingHash(gram)
        % Dedup.ChunkMask === 0)
    toks.withColumn("chunk_idx", sum(cut.cast("long")).over(w))
      .groupBy("doc_id", "chunk_idx")
      .agg(min(col("t")).as("t_min"), max(col("t")).as("t_max"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"),
        sha2(array_join(slice(split(col("text"), " "),
          col("t_min") + 1, col("t_max") - col("t_min") + 1), " "), 256)
          .as("k"))
  }

  private def newChunks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.ChunkHashes.chunkHashesCol(
        col("text"), Dedup.ChunkGram, Dedup.ChunkMask)).as("k"))

  private def keyBag(df: DataFrame): Map[(Long, String), Long] =
    df.groupBy("doc_id", "k").agg(count(F.lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

  test("native chunk hashes equal the window derivation on the corpus") {
    val docs = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val nw = keyBag(newChunks(docs))
    assert(nw == keyBag(oldChunks(docs)))
    assert(nw.nonEmpty)
  }

  test("native chunk hashes equal the window derivation on edge shapes") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""),                         // empty text: one empty-string chunk
      (2L, "one"),                      // shorter than the gram
      (3L, "one two three"),            // exactly gram-sized
      (4L, "trailing spaces here   "),  // split -1 keeps empty tokens
      (5L, (1 to 400).map(i => s"w${i % 17}").mkString(" ")), // many cuts
      (6L, "a a a a a a a a a a a a a a a a")                 // repeated token
    ).toDF("doc_id", "text")
    assert(keyBag(newChunks(docs)) == keyBag(oldChunks(docs)))
    // the long doc must actually split (the cut rule fires)
    assert(newChunks(docs).where($"doc_id" === 5L).count() > 1)
  }
}
