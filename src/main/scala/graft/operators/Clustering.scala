package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.{NearestCentroid, VectorFunctions}
import graft.sources.Tables

/** Deterministic k-means over the `embeddings` table and the
  * SemDeDup-style semantic dedup built on it (cluster the corpus, then
  * compare pairs ONLY inside a cluster — the way embedding-level dedup
  * is made sub-quadratic on large corpora).
  *
  * Everything is exactly reproducible so the DuckDB oracle can
  * hash-match it: centroids initialize from the k smallest
  * hash-of-vec_id rows ([[seedCentroids]]), Lloyd
  * runs a FIXED [[KmeansIters]] iterations, per-dimension centroid
  * means use the fixed-point decimal sum (the
  * [[Similarity.CentroidScale]] discipline — order-independent under
  * any partitioning), and argmin ties break toward the smaller cell id.
  *
  * Scale shape: one corpus pass per iteration. The centroid set is
  * k×dim doubles — codebook METADATA (k caps at [[KmeansMaxK]], ≈0.5 MB)
  * — collected per iteration and shipped back as a plan literal,
  * exactly the [[Similarity.ivfCodebook]] train-once contract; corpus
  * rows never reach the driver. Assignment is one projection of the
  * corpus through the [[NearestCentroid]] kernel, the book a plan
  * literal (O(n·k·d) work, the irreducible Lloyd cost, with no n·k
  * rows materialized and no shuffle); the update is one
  * partial-aggregating groupBy with k×dim groups. k derives from
  * corpus size ([[kFor]]: n / [[KmeansTargetPop]]) so per-cluster
  * population — and with it the semantic-dedup pair work — stays
  * ~constant as n grows instead of the pair join degenerating
  * quadratic (the same parameter-scaling rule as
  * [[Similarity.ivfCellsFor]]).
  */
object Clustering {

  /** Small-n floor / hard cap / per-cluster population target for the
    * derived cluster count. */
  val KmeansMinK = 8
  val KmeansMaxK = 1024
  val KmeansTargetPop = 64L
  /** Fixed Lloyd iteration count — part of the operator's contract
    * (the oracle unrolls exactly this many assign+update rounds). */
  val KmeansIters = 2
  /** In-cluster cosine at or above which the larger vec_id is flagged a
    * semantic duplicate. */
  val SemDedupThreshold = 0.30

  /** Cluster count for a corpus of n vectors: n / target population,
    * floored at the small-n default, capped where the centroid book
    * would stop being a trivially small plan literal. */
  def kFor(n: Long): Int =
    math.min(KmeansMaxK.toLong, math.max(KmeansMinK.toLong,
      n / KmeansTargetPop)).toInt

  private def corpus(spark: SparkSession, dir: String): DataFrame = {
    Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
  }

  /** Nearest-centroid assignment: one projection of `vecs` through the
    * native [[NearestCentroid]] kernel over the book literal —
    * d² = (e·e − 2.0·(e·c)) + c·c, argmin per vector with ties to the
    * smaller cell (the oracles' `ORDER BY d2, cell`). */
  private[graft] def assign(vecs: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame =
    vecs.select(col("vec_id"), col("e"),
        NearestCentroid.column(col("e"), cents).as("m"))
      .select(col("vec_id"), col("e"),
        col("m.cell").as("cell"), col("m.d2").as("d2"))

  /** Seeded deterministic init: the k vectors whose
    * [[Curation.portableHash]](vec_id) sorts smallest (ties to vec_id) —
    * a hash-ordered sample in the k-means‖ spirit. Seeds land
    * proportionally to where the data is REGARDLESS of id layout,
    * unlike init-from-first-k, where an adversarial id ordering (the
    * first k ids all in one region) collapses every centroid into that
    * region and the per-cluster population bound — which SemDeDup's
    * pair-join cost rides on — collapses with it. Runs as
    * TakeOrdered(k): a bounded per-partition heap merge on the driver,
    * k×dim centroid metadata, never a full sort. Oracle-expressible as
    * ROW_NUMBER() OVER (ORDER BY hash, vec_id) <= k. */
  private[graft] def seedCentroids(c: DataFrame, k: Int): Seq[(Long, Seq[Double])] =
    c.orderBy(Curation.portableHash(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id"), col("e")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq.sortBy(_._1)

  /** Fit on an arbitrary (vec_id, e) relation from given seeds (shared
    * by the dir-level entry point and the balance test). */
  private[graft] def fit(c: DataFrame,
      init: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
      var cents = init
      val scale = Similarity.CentroidScale.toDouble
      for (_ <- 1 to KmeansIters) {
        val means = assign(c, cents)
          .select(col("cell"), posexplode(col("e")).as(Seq("dim", "v")))
          .groupBy("cell", "dim")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("v") * lit(scale)).cast(DecimalType(28, 0))).as("s"))
          .select(col("cell"), col("dim"),
            (col("s").cast("double") / lit(scale) / col("n")).as("mu"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cell, rows) =>
            cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          }
        cents = cents.map { case (cell, prev) =>
          (cell, means.getOrElse(cell, prev))
        }
      }
      cents
  }

  /** Fit: hash-ordered seeds ([[seedCentroids]]), then [[KmeansIters]]
    * rounds of assign + fixed-point mean update. Each round's collect
    * moves k×dim doubles of centroid metadata, never corpus rows; cells
    * that lose every member keep their previous centroid (deterministic,
    * mirrored by the oracle's LEFT JOIN + COALESCE). Train-once: the
    * book is an [[ArtifactCache]] value per corpus dir (the
    * [[Similarity.ivfCodebook]] contract: fit one time, reuse from every
    * query; in a deployment the book persists next to the table). */
  def kmeansCentroids(spark: SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    ArtifactCache.value(spark, dir, "km_centroids") {
      val c = corpus(spark, dir)
      val k = kFor(Similarity.corpusCount(spark, dir))
      fit(c, seedCentroids(c, k))
    }

  private def finalAssignment(spark: SparkSession, dir: String): DataFrame =
    assign(corpus(spark, dir), kmeansCentroids(spark, dir))

  /** `emb_kmeans`: the final cluster assignment `(vec_id, cluster, d2)`. */
  def kmeans(spark: SparkSession, dir: String): DataFrame =
    finalAssignment(spark, dir)
      .select(col("vec_id"), col("cell").cast("int").as("cluster"), col("d2"))
      .orderBy("vec_id")

  /** `dd_semantic`: SemDeDup — pairs are compared ONLY within a
    * cluster (equi-join on cell; with k ∝ n the per-cluster population
    * is ~[[KmeansTargetPop]], so pair work stays linear in n), and the
    * larger vec_id of any pair at ≥ [[SemDedupThreshold]] cosine is
    * flagged. Keep-smallest-id semantics: the minimum id of a cluster
    * can never be flagged. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val asg = finalAssignment(spark, dir)
      .withColumn("nrm", VectorFunctions.norm(col("e")))
    val a = asg.select(col("cell"), col("vec_id").as("a_id"),
      col("e").as("e_a"), col("nrm").as("n_a"))
    val b = asg.select(col("cell"), col("vec_id").as("b_id"),
      col("e").as("e_b"), col("nrm").as("n_b"))
    val dups = a.join(b, Seq("cell"))
      .where(col("a_id") < col("b_id"))
      .where(VectorFunctions.cosinePrenormed(
        VectorFunctions.dot(col("e_a"), col("e_b")),
        col("n_a"), col("n_b")) >= lit(SemDedupThreshold))
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("_dup", lit(true))
    asg.select(col("vec_id"), col("cell").cast("int").as("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("_dup"), lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  // ---- DuckDB oracles ----------------------------------------------------

  /** One Lloyd assignment round as a WITH fragment (`src` is the
    * (vec_id, e) relation being assigned — the corpus for
    * [[kmeansCte]], a training sample for [[Similarity]]'s IVF/PQ
    * replays). Shared across every deterministic-k-means oracle so the
    * fixed-point discipline stays in ONE place. */
  private[operators] def assignSql(cent: String, out: String,
      src: String = "c"): String =
    s"""${out}_d AS (
       |  SELECT s.vec_id, s.e, t.cell,
       |         list_dot_product(s.e, s.e) - 2*list_dot_product(s.e, t.c)
       |           + list_dot_product(t.c, t.c) AS d2
       |  FROM $src s, $cent t),
       |$out AS (
       |  SELECT vec_id, e, cell, d2 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                                 ORDER BY d2, cell) AS rn
       |    FROM ${out}_d) WHERE rn = 1)""".stripMargin

  private[operators] def updateSql(asg: String, prev: String, out: String): String =
    s"""${out}_m AS (
       |  SELECT cell, i,
       |         CAST(SUM(CAST(FLOOR(e[i]*${Similarity.CentroidScale}) AS DECIMAL(28,0))) AS DOUBLE)
       |           / ${Similarity.CentroidScale} / COUNT(*) AS mu
       |  FROM (SELECT cell, e, unnest(generate_series(1, len(e))) AS i FROM $asg)
       |  GROUP BY cell, i),
       |$out AS (
       |  SELECT p.cell, COALESCE(n.c, p.c) AS c
       |  FROM $prev p LEFT JOIN
       |    (SELECT cell, list(mu ORDER BY i) AS c FROM ${out}_m GROUP BY cell) n
       |  USING (cell))""".stripMargin

  /** The unrolled [[KmeansIters]]-round Lloyd chain as a WITH body;
    * `af` is the final assignment. */
  private val kmeansCte: String =
    s"""kk AS (
       |  SELECT GREATEST($KmeansMinK, LEAST($KmeansMaxK,
       |           COUNT(*) // $KmeansTargetPop)) AS k FROM embeddings),
       |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |      FROM embeddings),
       |cent0 AS (
       |  SELECT cell, c FROM (
       |    SELECT vec_id AS cell, e AS c,
       |           ROW_NUMBER() OVER (
       |             ORDER BY ${Curation.portableHashSql("vec_id")}, vec_id) AS rn
       |    FROM c)
       |  WHERE rn <= (SELECT k FROM kk)),
       |${assignSql("cent0", "a1")},
       |${updateSql("a1", "cent0", "cent1")},
       |${assignSql("cent1", "a2")},
       |${updateSql("a2", "cent1", "cent2")},
       |${assignSql("cent2", "af")}""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("emb_kmeans", kmeans,
      s"""WITH $kmeansCte
         |SELECT vec_id, CAST(cell AS INT) AS cluster, d2
         |FROM af ORDER BY vec_id""".stripMargin),
    QueryDef("dd_semantic", semanticDedup,
      s"""WITH $kmeansCte,
         |p AS (
         |  SELECT b.vec_id AS b_id
         |  FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.e, b.e)
         |          / (SQRT(list_dot_product(a.e, a.e))
         |             * SQRT(list_dot_product(b.e, b.e)))
         |        >= $SemDedupThreshold)
         |SELECT f.vec_id, CAST(f.cell AS INT) AS cluster,
         |       f.vec_id IN (SELECT b_id FROM p) AS is_dup
         |FROM af f ORDER BY vec_id""".stripMargin))
}
