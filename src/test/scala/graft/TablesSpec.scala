package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.ArtifactCache
import graft.sources.Tables

/** Preconditions for [[Tables.salesLite]]'s FK-informed join
  * elimination (r16): an inner join that contributes no columns is a
  * no-op iff it neither DROPS stream rows (no orphan lineitems) nor
  * DUPLICATES them (unique order keys). Both are the TPC-H referential
  * contract; assert them at every verified scale factor so a future
  * data drop that violates the contract fails HERE, loudly, instead of
  * silently diverging ~25 gold/athena/graph queries from their
  * join-through oracles. Also pins [[Tables.table]]'s schema memo: one
  * inference per (session, dir, table), dropped by `invalidateDir`. */
class TablesSpec extends SparkSpec {

  /** The three verified scale factors, next to [[sfDir]]. */
  private val verifiedDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => s"${new java.io.File(sfDir).getParent}/$sf")

  test("salesLite precondition: lineitem→orders FK + order-key uniqueness at every verified SF") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val li = Tables.table(spark, dir, "lineitem")
      val o = Tables.table(spark, dir, "orders")
      val dupKeys = o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
        .where(col("c") > 1).count()
      assert(dupKeys == 0L, s"duplicate o_orderkey at $dir")
      val orphans = li.select("l_orderkey")
        .join(o.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti").count()
      assert(orphans == 0L, s"$orphans orphan lineitems at $dir")
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

  test("salesLite is sales minus customer_id, row for row") {
    val dir = "/root/testdata/sf0.01"
    val full = Tables.sales(spark, dir).drop("customer_id")
      .orderBy("transaction_id", "product_id").collect().map(_.toSeq).toSeq
    val lite = Tables.salesLite(spark, dir)
      .orderBy("transaction_id", "product_id").collect().map(_.toSeq).toSeq
    assert(lite.nonEmpty)
    assert(lite == full)
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
