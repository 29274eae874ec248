package graft

import org.apache.spark.sql.functions._
import graft.functions.CharDeletions
import graft.operators.FuzzyMatch

class FuzzyMatchSpec extends SparkSpec {

  test("every planted typo links back to its origin at distance 1, no cartesian") {
    // plan shape asserts on the BUILD path (the public entry point
    // serves the cached artifact, whose plan is a sorted RDD scan)
    val build = FuzzyMatch.buildFuzzyPairs(spark, sfDir, maxEdit = 1)
    val plan = build.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(400))
    val rows = FuzzyMatch.fuzzyMatch(spark, sfDir).collect()
    val n = graft.sources.Tables.table(spark, sfDir, "customer").count()
    val self = rows.count(r => r.getLong(0) == r.getLong(2))
    assert(self == n) // recall 1 by construction: one deletion per name
    assert(rows.forall(_.getInt(3) <= 1))
  }

  test("deletion neighborhood is distinct, includes the string itself") {
    import spark.implicits._
    val out = Seq("abc", "aab", "").toDF("s")
      .select(CharDeletions.neighborhoodCol(col("s")).as("v"))
      .as[Seq[String]].collect()
    assert(out(0).toSet == Set("abc", "bc", "ac", "ab"))
    assert(out(1).toSet == Set("aab", "ab", "aa")) // duplicate variants collapse
    assert(out(2) == Seq(""))
  }

  test("neighborhood intersection contains the lev<=1 relation") {
    // equal / deletion / insertion / substitution all intersect (so
    // candidate recall is 1); a substitution-distance-2 pair does not.
    // Near-misses the blocking admits (e.g. transpositions, lev 2) are
    // removed by the exact levenshtein verification.
    import spark.implicits._
    def nb(s: String): Set[String] = Seq(s).toDF("s")
      .select(CharDeletions.neighborhoodCol(col("s")).as("v"))
      .as[Seq[String]].collect().head.toSet
    assert((nb("abcd") & nb("abcd")).nonEmpty)
    assert((nb("abcd") & nb("abd")).nonEmpty)  // deletion
    assert((nb("abcd") & nb("abxcd")).nonEmpty) // insertion
    assert((nb("abcd") & nb("abxd")).nonEmpty)  // substitution
    assert((nb("abcd") & nb("axyd")).isEmpty)   // distance 2
  }

  test("depth-2 neighborhood intersection contains the lev<=2 relation") {
    import spark.implicits._
    def nb2(s: String): Set[String] = Seq(s).toDF("s")
      .select(CharDeletions.neighborhoodCol(col("s"), 2).as("v"))
      .as[Seq[String]].collect().head.toSet
    // breadth-first closure: 'abcd' → itself + 4 del¹ + 6 del²
    assert(nb2("abcd").size == 11)
    assert(nb2("abcd").contains("bd") && nb2("abcd").contains("abcd"))
    // every lev<=2 edit shape intersects at depth 2
    assert((nb2("abcd") & nb2("axyd")).nonEmpty)   // 2 substitutions
    assert((nb2("abcd") & nb2("acbd")).nonEmpty)   // transposition (lev 2)
    assert((nb2("abcd") & nb2("ab")).nonEmpty)     // 2 deletions
    assert((nb2("abcd") & nb2("axbycd")).nonEmpty) // 2 insertions
    assert((nb2("abcd") & nb2("axcde")).nonEmpty)  // sub + insert
    // distance 3 does not
    assert((nb2("abcdef") & nb2("axyzef")).isEmpty)
  }

  test("every 2-typo name links back to its origin at distance 2, no cartesian") {
    val out = FuzzyMatch.fuzzyMatchD2(spark, sfDir)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(400))
    val rows = out.collect()
    val n = graft.sources.Tables.table(spark, sfDir, "customer").count()
    val self = rows.count(r => r.getLong(0) == r.getLong(2))
    assert(self == n) // recall 1 by construction: two deletions per name
    assert(rows.forall(_.getInt(3) <= 2))
  }

  test("golden record: every record resolved, argmin replays the pair table") {
    val got = FuzzyMatch.goldenRecord(spark, sfDir).collect()
    val n = graft.sources.Tables.table(spark, sfDir, "customer").count()
    assert(got.length == n)
    val pairs = FuzzyMatch.fuzzyMatch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
      .groupBy(_._1)
    got.foreach { r =>
      val id = r.getAs[Long]("d_key")
      pairs.get(id) match {
        case Some(ps) =>
          val (_, mk, d) = ps.minBy(p => (p._3, p._2))
          assert(r.getAs[Long]("master_key") == mk, s"record $id")
          assert(r.getAs[Int]("dist") == d)
          assert(r.getAs[Long]("n_candidates") == ps.length.toLong)
          assert(!r.getAs[Boolean]("unmatched"))
        case None =>
          assert(r.getAs[Boolean]("unmatched"))
          assert(r.getAs[Long]("n_candidates") == 0L)
      }
    }
    // the synthesized dirty names carry one deletion each: everyone matches
    assert(got.forall(!_.getAs[Boolean]("unmatched")))
  }

  test("deletion-hash neighborhood == xxhash64 over the string neighborhood") {
    // CharDeletionHashes must emit exactly the XXH64(seed 42) hashes of
    // the CharDeletions string variants — the fuzzy join swaps one for
    // the other, so set equality at every depth is the license. Covers
    // multi-byte code points (deletion must remove whole characters)
    // and duplicate-collapsing inputs.
    import spark.implicits._
    val strs = Seq("", "a", "abc", "aab", "aaaa", "Customer#000000001",
      "añbñc", "ΑΒΓΔ", "日本語テキスト", "xy")
    (1 to 3).foreach { depth =>
      val rows = strs.toDF("s").select(
          graft.functions.CharDeletionHashes.hashesCol(col("s"), depth).as("h"),
          expr(s"transform(graft_char_deletions(s, $depth), x -> xxhash64(x))").as("hv"))
        .as[(Seq[Long], Seq[Long])].collect()
      rows.foreach { case (h, hv) =>
        assert(h.toSet == hv.toSet, s"depth $depth")
        assert(h.distinct == h, s"depth $depth emits duplicate hashes")
      }
    }
  }

  test("dv broadcast gate estimator bounds the post-filter variant count") {
    // the record count under-counts the exploded dv table by up to
    // ~L²/2× on variable-length corpora — the gate must size the
    // POST-length-filter variant count instead. The estimator is exact
    // on distinct-char names and an upper bound when repeated chars
    // dedup inside the explode.
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val names = Seq("ab", "abcdefgh", "abcdefghijklmnop", "aabbaabb")
    val maxEdit = 2
    val cLo = names.map(_.length).min
    val cHi = names.map(_.length).max
    names.foreach { name =>
      val est = Seq(name).toDF("c_name")
        .select(FuzzyMatch.survivingDirtyVariantsCol(col("c_name"), cLo, maxEdit).as("e"))
        .head().getDouble(0)
      val dirty = name.drop(maxEdit) // same length as the derived dirty name
      val arr = graft.functions.CharDeletionHashes.packed(
        UTF8String.fromString(dirty), maxEdit)
      val lens = (0 until arr.numElements()).map(i => (arr.getLong(i) >>> 48).toInt)
      val actual = lens.count(l => l >= cLo - maxEdit && l <= cHi)
      assert(est >= actual.toDouble, s"$name: est $est < actual $actual")
      if (name.distinct == name)
        assert(est == actual.toDouble, s"$name: estimator must be exact")
    }
  }

  test("deletion-hash neighborhood cap fails fast on hostile long inputs") {
    // the function is SQL-registered and callable on arbitrary strings:
    // before the Long-math guard, n ≳ 65k at depth 2 / n ≳ 1.8k at depth
    // 3 overflowed the Int neighborhood size to a negative array length
    // (or an under-sized probe table that never terminates). The guard
    // must throw a CLEAR error instead, and leave name-length inputs
    // (the intended use) untouched.
    import org.apache.spark.unsafe.types.UTF8String
    val big2 = UTF8String.fromString("x" * 70000)
    val big3 = UTF8String.fromString("x" * 3000)
    Seq((big2, 2), (big3, 3)).foreach { case (s, d) =>
      val e = intercept[IllegalArgumentException](
        graft.functions.CharDeletionHashes.hashes(s, d))
      assert(e.getMessage.contains("neighborhood"), s"depth $d: ${e.getMessage}")
      val ep = intercept[IllegalArgumentException](
        graft.functions.CharDeletionHashes.packed(s, d))
      assert(ep.getMessage.contains("neighborhood"))
    }
    // name-length strings at every depth stay fine (and exact)
    val name = UTF8String.fromString("Customer#000000001")
    (1 to 3).foreach(d =>
      assert(graft.functions.CharDeletionHashes.hashes(name, d).numElements() > 1))
  }

  test("d1 pair table is a session-cached artifact: repeat reads serve the checkpoint") {
    // first call may build; the second MUST serve the cached pair table
    // — a sorted scan of checkpointed rows with no join or aggregate
    // (the audit-trail artifact goldenRecord's decision layer also reads)
    FuzzyMatch.fuzzyMatch(spark, sfDir).count()
    val plan = FuzzyMatch.fuzzyMatch(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD"), plan.take(400))
    Seq("Join", "HashAggregate", "Generate").foreach(op =>
      assert(!plan.contains(op), s"cached pair read re-derives ($op)"))
  }
}
