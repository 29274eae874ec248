package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.ArtifactCache
import graft.sources.Tables

/** Preconditions for [[graft.sources.FkJoinElimination]]: an inner
  * join along a declared foreign key that contributes no columns is a
  * no-op iff it neither DROPS referencing rows (no orphans) nor
  * DUPLICATES them (unique referenced keys). Both are the TPC-H
  * referential contract; assert them for every entry of
  * [[Tables.foreignKeys]] at every verified scale factor so a future
  * data drop that violates the contract fails HERE, loudly, instead of
  * silently diverging the queries whose join the rule drops from their
  * join-through oracles. Also pins [[Tables.table]]'s schema memo: one
  * inference per (session, dir, table), dropped by `invalidateDir`. */
class TablesSpec extends SparkSpec {

  private def scansOf(df: DataFrame): Seq[String] = FkJoinEliminationSpec.scans(df)

  /** The three verified scale factors, next to [[sfDir]]. */
  private val verifiedDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => s"${new java.io.File(sfDir).getParent}/$sf")

  test("declared foreign keys: no orphans, unique referenced keys at every verified SF") {
    assert(Tables.foreignKeys.nonEmpty)
    for (dir <- verifiedDirs; fk <- Tables.foreignKeys) {
      val ref = Tables.table(spark, dir, fk.refTable).select(col(fk.refColumn))
      val dupKeys = ref.groupBy(fk.refColumn).agg(count(lit(1)).as("c"))
        .where(col("c") > 1).count()
      assert(dupKeys == 0L, s"duplicate ${fk.refTable}.${fk.refColumn} at $dir")
      // a null key matches nothing, so left_anti counts it as an orphan
      val orphans = Tables.table(spark, dir, fk.table).select(col(fk.column))
        .join(ref, col(fk.column) === col(fk.refColumn), "left_anti").count()
      assert(orphans == 0L, s"$orphans orphan ${fk.table}.${fk.column} at $dir")
    }
  }

  test("row-local text and vector kernels: unique doc_id and vec_id, non-null text at every verified SF") {
    // a projection keeps one row per input row where a groupBy(doc_id)
    // merged duplicate ids, and a null text yields no explode rows but a
    // null kernel struct: TokenStats and NearestCentroid match their
    // former doc_id/vec_id-keyed derivations only under these
    for (dir <- verifiedDirs) {
      val d = Tables.table(spark, dir, "documents")
        .agg(count(lit(1)), countDistinct(col("doc_id")),
          count(when(col("text").isNull, 1))).head()
      assert(d.getLong(0) > 0 && d.getLong(0) == d.getLong(1), s"duplicate doc_id at $dir")
      assert(d.getLong(2) == 0L, s"null document text at $dir")
      val e = Tables.table(spark, dir, "embeddings")
        .agg(count(lit(1)), countDistinct(col("vec_id"))).head()
      assert(e.getLong(0) > 0 && e.getLong(0) == e.getLong(1), s"duplicate vec_id at $dir")
    }
  }

  test("sales without its join equals sales through it, row for row") {
    val dir = "/root/testdata/sf0.01"
    val sales = Tables.sales(spark, dir)
    // nothing reads customer_id: the rule drops the orders join
    val dropped = sales.drop("customer_id")
    // a customer_id filter sits on the orders side: the join stays
    val kept = sales.where(col("customer_id").isNotNull).drop("customer_id")
    assert(scansOf(dropped) == Seq("lineitem"))
    assert(scansOf(kept).sorted == Seq("lineitem", "orders"))
    def rows(df: DataFrame) = df.orderBy(df.columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).toSeq
    val lite = rows(dropped)
    assert(lite.nonEmpty)
    assert(lite == rows(kept))
  }

  test("a second read of a source table in a session launches no Spark job") {
    Tables.table(spark, sfDir, "orders")
    val jobs = new Bench.JobCounter(spark)
    try {
      jobs.drain()
      val second = Tables.table(spark, sfDir, "orders")
      assert(jobs.drain() == 0, "a read with the schema cached launched a job")
      assert(second.schema == spark.read.parquet(s"$sfDir/orders.parquet").schema)
    } finally jobs.close()
  }

  test("invalidateDir drops a source table's schema with the dir's other artifacts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_schema").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    // rewritten in place with one more column
    Seq((2L, "b", 3.0)).toDF("id", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    ArtifactCache.invalidateDir(spark, dir)
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq == Seq("id", "v", "w"))
    assert(t.collect().map(_.toSeq).toSeq == Seq(Seq(2L, "b", 3.0)))
  }
}
