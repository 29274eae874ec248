package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  /** Every function GraftExtensions injects: the only registration
    * path, so a name missing here is a name no session can resolve. */
  private val Injected = Seq(
    "graft_rolling_hash", "graft_simhash_wide",
    "graft_word_shingles", "graft_word_ngrams", "graft_dot", "graft_scale",
    "graft_top_k_by_score", "graft_hyperplane_sigs", "graft_token_set_hits",
    "graft_nearest_cells", "graft_heavy_hitters", "graft_char_deletions",
    "graft_char_deletion_hashes", "graft_char_deletion_hashlens",
    "graft_bloom_agg", "graft_bloom_contains", "graft_html_parsed",
    "graft_html_links",
    "graft_url_canon", "graft_url_host", "graft_chunk_hashes",
    "graft_token_stats", "graft_nearest_centroid")

  test("GraftExtensions makes the native functions available to plain SQL") {
    // getOrCreate reuses any live session and would skip the extension
    // hook — detach the shared test session first, reattach after
    val prevDefault = SparkSession.getDefaultSession
    val prevActive  = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // the profile installs GraftExtensions through spark.sql.extensions
    val spark = SparkConfigs.local(SparkSession.builder(), 2)
      .appName("graft-ext-test")
      .getOrCreate()
    try {
      // a fresh session has run no operator: each name resolves through
      // the extension alone
      val fresh = spark.newSession()
      val missing = Injected.filterNot(fresh.catalog.functionExists)
      assert(Injected.distinct.size == 23)
      assert(missing.isEmpty, s"not resolvable: ${missing.mkString(", ")}")
      // the one optimizer rule rides the same extension
      assert(fresh.sessionState.optimizer.extendedOperatorOptimizationRules
        .contains(graft.sources.FkJoinElimination))
      val row = spark.sql(
        """SELECT graft_rolling_hash('hello world')       AS rh,
          |       graft_simhash_wide('a b c', 1)          AS sh,
          |       graft_word_shingles('a b c d', 2)       AS ws,
          |       graft_word_ngrams('a b a b', 2)         AS ng,
          |       graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp
          |""".stripMargin).head()
      assert(row.getAs[Long]("rh") ==
        graft.functions.RollingHash.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString("hello world")))
      assert(row.getSeq[String](row.fieldIndex("ws")) == Seq("a b", "b c", "c d"))
      assert(row.getSeq[String](row.fieldIndex("ng")) == Seq("a b", "b a", "a b"))
      assert(row.getAs[Double]("dp") == 11.0)
      val topk = spark.sql(
        """SELECT graft_top_k_by_score(s, i, 2) AS t
          |FROM VALUES (CAST(1.0 AS DOUBLE), CAST(1 AS BIGINT)),
          |            (CAST(3.0 AS DOUBLE), CAST(2 AS BIGINT)),
          |            (CAST(2.0 AS DOUBLE), CAST(3 AS BIGINT)) AS v(s, i)
          |""".stripMargin).head().getSeq[org.apache.spark.sql.Row](0)
      assert(topk.map(r => (r.getDouble(0), r.getLong(1))) == Seq((3.0, 2L), (2.0, 3L)))
      val hh = spark.sql(
        """SELECT graft_heavy_hitters(i, 2) AS h
          |FROM VALUES (CAST(1 AS BIGINT)), (CAST(1 AS BIGINT)),
          |            (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)) AS v(i)
          |""".stripMargin).head().getSeq[org.apache.spark.sql.Row](0)
      assert(hh.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 3L), (2L, 1L)))
      // both deletion-neighborhood forms must reach pure-SQL sessions:
      // the hot fuzzy-match path depends on the packed length|hash form,
      // which was once only registered via the Scala API's side effect
      val dels = spark.sql(
        """SELECT graft_char_deletion_hashes('abc', 1)   AS h,
          |       graft_char_deletion_hashlens('abc', 1) AS hl
          |""".stripMargin).head()
      val h  = dels.getSeq[Long](0)
      val hl = dels.getSeq[Long](1)
      assert(h.size == 4 && hl.size == 4)  // 'abc' + 3 single deletions
      // packed form: top 16 bits = variant code-point length, low 48 = hash₄₈
      assert(hl.map(_ >>> 48).sorted == Seq(2L, 2L, 2L, 3L))
      assert(hl.map(_ & 0xFFFFFFFFFFFFL).toSet == h.map(_ & 0xFFFFFFFFFFFFL).toSet)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
      if (prevDefault.isEmpty) spark.stop()
    }
  }
}
