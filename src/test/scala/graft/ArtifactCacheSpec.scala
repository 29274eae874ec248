package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{ArtifactCache, Similarity, TextAnalysis}
import graft.sources.Tables

/** Direct contract tests for the trained-artifact cache — the
  * consumers' no-recompute proofs live with their operators
  * (CurationSpec, SimilaritySpec, FuzzyMatchSpec); this pins the cache
  * semantics themselves, for tables ([[ArtifactCache.of]]) and
  * driver-side values ([[ArtifactCache.value]]) alike: build-once,
  * save/load, dir-level invalidation. */
class ArtifactCacheSpec extends SparkSpec {

  test("of() builds once per (dir, name) and serves the checkpoint after") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq((1L, "a")).toDF("k", "v") }
    val dir = "/cache-spec/corpus-a"
    val first = ArtifactCache.of(spark, dir, "t1")(build())
    ArtifactCache.of(spark, dir, "t1")(build())
    val again = ArtifactCache.of(spark, dir, "t1")(build())
    assert(builds == 1, "builder re-ran on a warm key")
    assert(again.collect().toSeq == first.collect().toSeq)
    // the served plan is the materialized checkpoint, not the lineage
    assert(again.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    // a different name under the same dir builds independently
    ArtifactCache.of(spark, dir, "t2")(build())
    assert(builds == 2)
    // a value built inside a table build (the IVF book inside an
    // ann_topk_ivf build): nested builds on one map, each cached once
    var valueBuilds = 0
    def n() = ArtifactCache.value(spark, dir, "n") { valueBuilds += 1; 3L }
    val t3 = ArtifactCache.of(spark, dir, "t3")(spark.range(n()).toDF("k"))
    assert(t3.count() == 3L && n() == 3L && valueBuilds == 1)
    assert(ArtifactCache.buildSeconds.contains(s"$dir|n"))
  }

  test("invalidateDir drops every artifact of the dir and nothing else") {
    import spark.implicits._
    val (da, db) = ("/cache-spec/corpus-b", "/cache-spec/corpus-c")
    var builds = 0
    def build() = { builds += 1; Seq((builds.toLong, "x")).toDF("k", "v") }
    def nRows(dir: String) = ArtifactCache.value(spark, dir, "n_rows") {
      builds += 1; builds.toLong
    }
    ArtifactCache.of(spark, da, "pairs")(build())
    ArtifactCache.of(spark, da, "map")(build())
    ArtifactCache.of(spark, db, "pairs")(build())
    nRows(da)
    nRows(db)
    assert(builds == 5)
    ArtifactCache.invalidateDir(spark, da)
    // every artifact of da re-derives (the derivation-chain contract:
    // a corpus rewrite may never leave a downstream artifact cached
    // against stale upstreams) ...
    ArtifactCache.of(spark, da, "pairs")(build())
    ArtifactCache.of(spark, da, "map")(build())
    nRows(da)
    assert(builds == 8)
    // ... while the other dir's stay warm
    ArtifactCache.of(spark, db, "pairs")(build())
    nRows(db)
    assert(builds == 8)
  }

  test("save/load round-trips a table and a value") {
    import spark.implicits._
    val (src, dir) = ("/cache-spec/corpus-d-src", "/cache-spec/corpus-d")
    val base = Files.createTempDirectory("graft_saveload").toString
    ArtifactCache.of(spark, src, "t")(Seq((2L, "new")).toDF("k", "v"))
    ArtifactCache.value(spark, src, "book")(Seq(Seq(0.5, 1.5)))
    ArtifactCache.save(spark, src, "t", s"$base/t")
    ArtifactCache.save(spark, src, "book", s"$base/book")
    // a load replaces what the dir has cached
    ArtifactCache.of(spark, dir, "t")(Seq((1L, "old")).toDF("k", "v"))
    val loaded = ArtifactCache.load(spark, dir, "t", s"$base/t")
    val got = ArtifactCache.of(spark, dir, "t")(
      sys.error("builder must not run after load"))
    assert(got eq loaded)
    assert(got.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "new")))
    // a loaded value primes the cache the same way
    ArtifactCache.load(spark, dir, "book", s"$base/book")
    assert(ArtifactCache.value[Seq[Seq[Double]]](spark, dir, "book")(
      sys.error("builder must not run after load")) == Seq(Seq(0.5, 1.5)))
  }

  test("save/load errors name the problem: not cached, nothing saved, other kind") {
    import spark.implicits._
    val dir = "/cache-spec/corpus-e"
    val base = Files.createTempDirectory("graft_saveload_err").toString
    val notCached = intercept[NoSuchElementException](
      ArtifactCache.save(spark, dir, "t", s"$base/t"))
    assert(notCached.getMessage.contains("it is not cached"), notCached.getMessage)
    val empty = Files.createTempDirectory("graft_saveload_empty").toString
    val nothing = intercept[java.io.FileNotFoundException](
      ArtifactCache.load(spark, dir, "t", empty))
    assert(nothing.getMessage.contains("no saved artifact"), nothing.getMessage)
    ArtifactCache.of(spark, dir, "t")(Seq(1L).toDF("k"))
    ArtifactCache.value(spark, dir, "book")(Seq(Seq(0.5)))
    ArtifactCache.save(spark, dir, "t", s"$base/t")
    ArtifactCache.save(spark, dir, "book", s"$base/book")
    // a path of the other kind loads, and its first reader names the
    // mismatch instead of failing a cast
    ArtifactCache.load(spark, dir, "t", s"$base/book")
    val asTable = intercept[IllegalStateException](
      ArtifactCache.of(spark, dir, "t")(sys.error("builder must not run after load")))
    assert(asTable.getMessage.contains("holds a value, but its reader expects a table"),
      asTable.getMessage)
    ArtifactCache.load(spark, dir, "book", s"$base/t")
    val asValue = intercept[IllegalStateException](
      ArtifactCache.value[Seq[Seq[Double]]](spark, dir, "book")(
        sys.error("builder must not run after load")))
    assert(asValue.getMessage.contains("holds a table, but its reader expects a value"),
      asValue.getMessage)
    ArtifactCache.invalidateDir(spark, dir)
  }

  test("invalidateDir after an in-place rewrite: counts, codebooks and models match a fresh derivation") {
    val base = Files.createTempDirectory("graft_rewrite").toString
    val (dir, fresh) = (s"$base/corpus", s"$base/fresh")
    /** Writes the embeddings and documents of sf0.001 to `to`, the rows
      * with an id below `maxId` only. */
    def write(to: String, maxId: Long): Unit =
      Seq("embeddings" -> "vec_id", "documents" -> "doc_id").foreach { case (t, id) =>
        Tables.table(spark, sfDir, t).where(col(id) < maxId)
          .write.mode("overwrite").parquet(s"$to/$t.parquet")
      }
    def derive(d: String): (Long, Seq[String], Seq[String]) = (
      Similarity.corpusCount(spark, d),
      Similarity.annTopKIvf(spark, d).collect().map(_.toString).toSeq,
      TextAnalysis.qualityLr(spark, d).collect().map(_.toString).toSeq)
    write(dir, 300L)
    val before = derive(dir)
    // the corpus is rewritten in place with more rows, then invalidated
    write(dir, Long.MaxValue)
    ArtifactCache.invalidateDir(spark, dir)
    val after = derive(dir)
    write(fresh, Long.MaxValue)
    val expected = derive(fresh)
    assert(before._1 == 300L && expected._1 == 500L)
    assert(before._2 != expected._2 && before._3 != expected._3)
    assert(after._1 == expected._1, "stale corpus count")
    assert(after._2 == expected._2, "ann_topk_ivf derived from a stale codebook")
    assert(after._3 == expected._3, "txt_quality_lr from a stale model or features")
  }
}
