package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CharDeletionHashes
import graft.sources.Tables

/** Fuzzy entity matching (record linkage) via SymSpell-style
  * deletion-neighborhood blocking.
  *
  * The reference pipeline cleans and loads dimension tables as-is; real
  * retail feeds carry typo'd keys (OCR'd receipts, hand-keyed customer
  * names), and linking them back to the master dimension is the classic
  * silver-layer entity-resolution step. The naive approach — levenshtein
  * over a cross join — is O(n²) and unrunnable at scale; prefix blocking
  * collapses into one mega-bucket whenever names share a common prefix
  * (every customer name here starts with "Customer#").
  *
  * SymSpell blocking instead: any two strings within Levenshtein
  * distance 1 share a single-deletion-neighborhood ({s} ∪ one-char
  * deletions) element — equality, insertion, deletion, and
  * substitution each force one. So candidate generation is ONE
  * equi-join on the neighborhood element (~(L+1) rows per record,
  * near-unique keys — bucket population stays O(dups) regardless of
  * corpus size), and verification is an exact `levenshtein` on the
  * candidates only. Recall is 1 by construction; precision is 1 after
  * the distance filter (which also drops the few admitted lev-2
  * near-misses, e.g. transpositions).
  *
  * The "dirty" side is derived deterministically in-query (delete the
  * character at hash(key) % length), so the operator is self-contained
  * and the DuckDB oracle reproduces it bit-for-bit.
  */
object FuzzyMatch {

  /** `xf_fuzzy_match`: link every dirty customer name to all master
    * names within edit distance 1.
    *
    * The pair table is a session-cached [[ArtifactCache]] artifact: in
    * a warehouse it is the persisted record-linkage AUDIT TRAIL that
    * both the pair review query and [[goldenRecord]]'s survivorship
    * decision layer read — derived once per corpus, never re-derived
    * per consumer (the cluster-map contract applied to entity
    * resolution). The cache holds the unordered pairs; the
    * deterministic sort re-applies per read. Depth 2 stays uncached:
    * it has a single consumer, so caching it would only hide its real
    * derivation cost. */
  def fuzzyMatch(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "xf_pairs_d1")(
        buildFuzzyPairs(spark, dir, maxEdit = 1))
      .orderBy("d_key", "clean_key")

  /** `xf_fuzzy_match2`: the standard SymSpell configuration (maxEdit =
    * 2) — dirty names carry TWO hash-determined deletions and link to
    * every master name within edit distance 2 via the depth-2 deletion
    * neighborhoods. Same one-equi-join shape; neighborhood keys are
    * ~L²/2 per row (still O(1)), and bucket population grows only with
    * genuine near-matches, which the exact levenshtein verifies. */
  def fuzzyMatchD2(spark: SparkSession, dir: String): DataFrame =
    buildFuzzyPairs(spark, dir, maxEdit = 2)

  /** Deterministic k-th deletion position: hash(d_key), integer-divided
    * per round so rounds pick independent positions, modulo the CURRENT
    * (already-shrunk) length. */
  private def delOnceSql(round: Int): String = {
    val h = if (round == 1) posHashSql("d_key")
      else s"(${posHashSql("d_key")} DIV ${Seq.fill(round - 1)(7L).product})"
    val p = s"CAST(1 + $h % char_length(d_name) AS INT)"
    s"concat(substring(d_name, 1, $p - 1), " +
      s"substring(d_name, $p + 1, char_length(d_name)))"
  }

  private[graft] def buildFuzzyPairs(spark: SparkSession, dir: String,
      maxEdit: Int): DataFrame = {
    val cust = Tables.table(spark, dir, "customer")
    var dirty = cust.select(col("c_custkey").as("d_key"),
      col("c_name").as("d_name"))
    (1 to maxEdit).foreach { k =>
      dirty = dirty.select(col("d_key"), expr(delOnceSql(k)).as("d_name"))
    }
    // candidate dedup carries KEYS ONLY (names are functionally
    // dependent on them): the v-join's multiplicity — heavy at depth 2,
    // where templated names share many variants — is collapsed by a
    // 16-byte-row distinct instead of shuffling both name strings per
    // collision; names rejoin once per surviving pair.
    // The join key is (variant length ≪ 48 | XXH64₄₈), not the variant
    // string: the exploded candidate stream is the dominant cost (~L²/2
    // rows per record at depth 2) and an 8-byte key halves its bytes; a
    // hash collision can only ADD a candidate pair, which the exact
    // levenshtein verify then rejects — recall and precision unchanged.
    // [[CharDeletionHashes]] emits the keys directly from deleted
    // position subsets of the original string — no variant string is
    // ever materialized (the depth-2 closure otherwise allocates ~900
    // UTF8Strings per row just to hash and discard them).
    //
    // LENGTH PRUNING: a key only ever matches an equal-length variant,
    // so each side keeps only variants whose length the OTHER side can
    // produce — lengths in [min(other) − maxEdit, max(other)]. The
    // bounds come from ONE min/max aggregate over the master name
    // column, collected at plan build (a 2-int metadata-sized head(),
    // the codebook/seed pattern; the dirty side is by construction
    // exactly maxEdit chars shorter per name, so its bounds derive
    // arithmetically — no second pass, no join in the plan). This is
    // exact — the shared witness variant of any lev ≤ maxEdit pair
    // survives on both sides — and cuts the dead weight hard when the
    // two sides' length ranges are offset: here every dirty name is
    // maxEdit chars shorter than every clean name, so the dirty side
    // keeps ~1 variant per row (depth 0) and the clean side only its
    // deepest level.
    val boundsRow = cust.agg(
      org.apache.spark.sql.functions.min(length(col("c_name"))),
      org.apache.spark.sql.functions.max(length(col("c_name"))),
      count(lit(1))).head
    val (cLo, cHi) =
      if (boundsRow.isNullAt(0)) (0, -1) else (boundsRow.getInt(0), boundsRow.getInt(1))
    val nRecords = boundsRow.getLong(2)
    val cap = CharDeletionHashes.LenCap
    def keep(vh: org.apache.spark.sql.Column, lo: Int, hi: Int) =
      shiftright(vh, 48).between(
        lit(math.min(lo, cap)), lit(math.min(hi, cap)))
    // PARALLEL GENERATION: the master dimension is usually a handful
    // of parquet splits, which would run the whole explode→probe stage
    // near-serially; an explicit-width exchange of the tiny pre-explode
    // rows parallelizes it. Width is pinned (not AQE-advisory) because
    // AQE sizes coalescing on the PRE-explode bytes and would fold the
    // stage back to one task.
    val np = spark.sessionState.conf.numShufflePartitions
    // BROADCAST GATE: hint the dimension-sized sides only while they
    // are small enough to hash-broadcast against a generous 200 MB
    // budget; past that, drop the hints and let the planner shuffle on
    // vh / the keys — same plan class the exact verify licenses, no
    // correctness dependence on the hint. The UN-exploded name tables
    // (dirty, cust) gate on records × ~48 B. The EXPLODED variant-key
    // table dv CANNOT use the record count: it collapses to ~1 row per
    // record only on a fixed-length corpus (length pruning keeps depth
    // 0 alone); with variable-length names up to ~L^maxEdit/maxEdit!
    // variants per record survive, so dv gates on the post-filter
    // variant count derived EXACTLY from the name-length distribution
    // (one more 1-row metadata aggregate at plan build — the boundsRow
    // pattern; an upper bound, since duplicate variants of repeated
    // chars dedup in the explode).
    def hinted(df: DataFrame): DataFrame =
      if (nRecords * 48L <= (200L << 20)) broadcast(df) else df
    val dvRowsEst =
      if (cHi < cLo) 0.0
      else cust.agg(coalesce(
          sum(survivingDirtyVariantsCol(col("c_name"), cLo, maxEdit)),
          lit(0.0))).head().getDouble(0)
    def hintedVariants(df: DataFrame): DataFrame =
      if (dvRowsEst * 48.0 <= (200L << 20).toDouble) broadcast(df) else df
    val dv = dirty.repartition(np, col("d_key"))
      .select(col("d_key"),
        explode(CharDeletionHashes.packedCol(col("d_name"), maxEdit))
          .as("vh"))
      .where(keep(col("vh"), cLo - maxEdit, cHi))
    val cv = cust.repartition(np, col("c_custkey"))
      .select(col("c_custkey").as("clean_key"),
        explode(CharDeletionHashes.packedCol(col("c_name"), maxEdit))
          .as("vh"))
      .where(keep(col("vh"), cLo - 2 * maxEdit, cHi - maxEdit))
    // ONE exchange end-to-end after the candidate join: the pair
    // stream range-partitions on the OUTPUT order (16-byte rows, so
    // the range sample re-execution is cheap), the distinct
    // aggregates within those partitions (range satisfies the
    // clustered requirement), and the name rejoins + levenshtein
    // verify are order-preserving broadcast joins — the final orderBy
    // collapses to an in-partition sort with no further exchange.
    hintedVariants(dv).join(cv, Seq("vh"))
      .select("d_key", "clean_key")
      .repartitionByRange(col("d_key"), col("clean_key"))
      .distinct()
      .join(hinted(dirty), "d_key")
      .join(hinted(cust.select(col("c_custkey").as("clean_key"), col("c_name"))),
        "clean_key")
      .withColumn("dist", levenshtein(col("d_name"), col("c_name")))
      .where(col("dist") <= maxEdit)
      .select("d_key", "d_name", "clean_key", "dist")
      .orderBy("d_key", "clean_key")
  }

  /** Post-length-filter dirty-variant count for ONE clean name of
    * length L: the dirty name is L − maxEdit chars (each derivation
    * round deletes exactly one), its depth-d variants are L − maxEdit −
    * d chars and survive [[buildFuzzyPairs]]'s keep-filter bounds
    * [cLo − maxEdit, cHi] iff d ≤ L − cLo, contributing
    * C(L − maxEdit, d) keys. An EXACT upper bound on the exploded
    * post-filter row count (duplicate variants of repeated characters
    * dedup inside the explode, so the true count can only be lower) —
    * the quantity the dv broadcast gate must size, since the record
    * count under-counts it by up to L²/2× on variable-length corpora. */
  private[graft] def survivingDirtyVariantsCol(cleanName: org.apache.spark.sql.Column,
      cLo: Int, maxEdit: Int): org.apache.spark.sql.Column = {
    val big = length(cleanName).cast("double")
    val dl = big - lit(maxEdit.toDouble)
    (0 to maxEdit).map { d =>
      val fact = (1 to d).product.toDouble
      val comb = (0 until d).map(i => dl - lit(i.toDouble))
        .foldLeft(lit(1.0))(_ * _) / lit(fact)
      when(big - lit(cLo.toDouble) >= lit(d.toDouble) &&
          dl - lit(d.toDouble) >= lit(0.0),
        greatest(comb, lit(0.0))).otherwise(lit(0.0))
    }.reduce(_ + _)
  }

  private def posHashSql(idExpr: String): String =
    s"(((($idExpr) % ${Curation.HashMod}) * ${Curation.HashMult}) % ${Curation.HashMod})"

  /** `xf_golden_record`: master-data survivorship — every dirty record
    * resolves to its BEST master (minimum edit distance, ties to the
    * smaller master key) or is flagged unmatched. The decision layer on
    * top of [[fuzzyMatch]]'s candidate pairs: pairs are the audit
    * trail, this is the assignment a warehouse merge actually applies.
    *
    * Scale shape: the argmin is a bounded per-record window (a dirty
    * record's candidates come from its deletion neighborhoods — O(L)
    * buckets, a handful of masters each); the unmatched left join is
    * keyed on the dirty record id. Deterministic tiebreaks make the
    * assignment reproducible and exactly oracle-checkable. */
  def goldenRecord(spark: SparkSession, dir: String): DataFrame = {
    val pairs = fuzzyMatch(spark, dir)
    val best = pairs
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("d_key")
          .orderBy(col("dist"), col("clean_key"))))
      .where(col("rn") === 1)
      .select(col("d_key"), col("clean_key").as("master_key"), col("dist"))
    val nCand = pairs.groupBy("d_key").agg(count(lit(1)).as("n_candidates"))
    Tables.table(spark, dir, "customer")
      .select(col("c_custkey").as("d_key"))
      .join(best, Seq("d_key"), "left")
      .join(nCand, Seq("d_key"), "left")
      .select(col("d_key"), col("master_key"), col("dist"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("master_key").isNull.as("unmatched"))
      .orderBy("d_key")
  }

  /** DuckDB single-deletion list of `s`. */
  private def del1Sql(s: String): String =
    s"list_transform(generate_series(1, length($s)), " +
      s"i -> substr($s,1,i-1) || substr($s,i+1))"

  /** DuckDB mirror of the deletion neighborhood: {s} ∪ one-char
    * deletions, distinct. */
  private def neighborhoodSql(s: String): String =
    s"list_distinct(list_prepend($s, ${del1Sql(s)}))"

  /** Depth-2 closure: {s} ∪ del¹ ∪ del² (nested lambda). */
  private def neighborhood2Sql(s: String): String =
    s"list_distinct(flatten(list_transform(" +
      s"list_prepend($s, ${del1Sql(s)}), " +
      s"x -> list_prepend(x, ${del1Sql("x")}))))"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("xf_golden_record", goldenRecord,
      s"""WITH dirty AS (
         |  SELECT c_custkey AS d_key,
         |         substr(c_name, 1, CAST(1 + ${posHashSql("c_custkey")}
         |             % length(c_name) AS INT) - 1)
         |         || substr(c_name, CAST(1 + ${posHashSql("c_custkey")}
         |             % length(c_name) AS INT) + 1) AS d_name
         |  FROM customer),
         |dv AS (SELECT d_key, d_name, unnest(${neighborhoodSql("d_name")}) AS v
         |       FROM dirty),
         |cv AS (SELECT c_custkey AS clean_key, c_name,
         |              unnest(${neighborhoodSql("c_name")}) AS v
         |       FROM customer),
         |cand AS (SELECT DISTINCT d_key, d_name, clean_key, c_name
         |         FROM dv JOIN cv USING (v)),
         |p AS (SELECT d_key, clean_key, levenshtein(d_name, c_name) AS dist
         |      FROM cand WHERE levenshtein(d_name, c_name) <= 1),
         |b AS (SELECT d_key, clean_key, dist,
         |             ROW_NUMBER() OVER (PARTITION BY d_key
         |               ORDER BY dist, clean_key) AS rn
         |      FROM p),
         |nc AS (SELECT d_key, COUNT(*) AS n_candidates FROM p GROUP BY 1)
         |SELECT c.c_custkey AS d_key, b.clean_key AS master_key, b.dist,
         |       COALESCE(nc.n_candidates, 0) AS n_candidates,
         |       b.clean_key IS NULL AS unmatched
         |FROM customer c
         |LEFT JOIN (SELECT * FROM b WHERE rn = 1) b ON c.c_custkey = b.d_key
         |LEFT JOIN nc ON c.c_custkey = nc.d_key
         |ORDER BY d_key""".stripMargin),
    QueryDef("xf_fuzzy_match", fuzzyMatch,
      s"""WITH dirty AS (
         |  SELECT c_custkey AS d_key,
         |         substr(c_name, 1, CAST(1 + ${posHashSql("c_custkey")}
         |             % length(c_name) AS INT) - 1)
         |         || substr(c_name, CAST(1 + ${posHashSql("c_custkey")}
         |             % length(c_name) AS INT) + 1) AS d_name
         |  FROM customer),
         |dv AS (SELECT d_key, d_name, unnest(${neighborhoodSql("d_name")}) AS v
         |       FROM dirty),
         |cv AS (SELECT c_custkey AS clean_key, c_name,
         |              unnest(${neighborhoodSql("c_name")}) AS v
         |       FROM customer),
         |cand AS (SELECT DISTINCT d_key, d_name, clean_key, c_name
         |         FROM dv JOIN cv USING (v))
         |SELECT d_key, d_name, clean_key, levenshtein(d_name, c_name) AS dist
         |FROM cand WHERE levenshtein(d_name, c_name) <= 1
         |ORDER BY d_key, clean_key""".stripMargin),
    QueryDef("xf_fuzzy_match2", fuzzyMatchD2,
      s"""WITH d0 AS (SELECT c_custkey AS d_key, c_name AS d_name FROM customer),
         |d1 AS (
         |  SELECT d_key,
         |         substr(d_name, 1, CAST(1 + ${posHashSql("d_key")}
         |             % length(d_name) AS INT) - 1)
         |         || substr(d_name, CAST(1 + ${posHashSql("d_key")}
         |             % length(d_name) AS INT) + 1) AS d_name
         |  FROM d0),
         |d2 AS (
         |  SELECT d_key,
         |         substr(d_name, 1, CAST(1 + (${posHashSql("d_key")} // 7)
         |             % length(d_name) AS INT) - 1)
         |         || substr(d_name, CAST(1 + (${posHashSql("d_key")} // 7)
         |             % length(d_name) AS INT) + 1) AS d_name
         |  FROM d1),
         |dv AS (SELECT d_key, d_name, unnest(${neighborhood2Sql("d_name")}) AS v
         |       FROM d2),
         |cv AS (SELECT c_custkey AS clean_key, c_name,
         |              unnest(${neighborhood2Sql("c_name")}) AS v
         |       FROM customer),
         |cand AS (SELECT DISTINCT d_key, d_name, clean_key, c_name
         |         FROM dv JOIN cv USING (v))
         |SELECT d_key, d_name, clean_key, levenshtein(d_name, c_name) AS dist
         |FROM cand WHERE levenshtein(d_name, c_name) <= 2
         |ORDER BY d_key, clean_key""".stripMargin))
}
