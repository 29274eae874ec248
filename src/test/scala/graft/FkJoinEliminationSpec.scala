package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** [[graft.sources.FkJoinElimination]] drops an inner join along a
  * declared foreign key exactly when nothing reads or filters the
  * referenced side, and only when the key is the referencing table's
  * own scan column. */
class FkJoinEliminationSpec extends SparkSpec {
  import FkJoinEliminationSpec.scans

  private def sales = Tables.sales(spark, sfDir)

  test("fires under a pushed filter, a window and a dimension join") {
    // the filter is pushed to the lineitem side before the rule sees the join
    val filtered = sales.where(col("quantity") > 3).groupBy("store_id")
      .agg(sum("quantity").as("q"))
    val windowed = sales.select(col("store_id"), col("quantity"),
      sum("quantity").over(Window.partitionBy("store_id")).as("store_q"))
    val withDim = sales.join(Tables.products(spark, sfDir), "product_id")
      .groupBy("category").agg(sum("quantity").as("q"))
    Seq(filtered, windowed, withDim, Tables.inventory(spark, sfDir))
      .foreach(df => assert(!scans(df).contains("orders"), df.queryExecution.optimizedPlan))
    assert(scans(withDim).sorted == Seq("lineitem", "part"))
    // the same rows as the lineitem table alone
    val li = Tables.table(spark, sfDir, "lineitem")
      .where(col("l_quantity") > 3).groupBy(col("l_suppkey").as("store_id"))
      .agg(sum(col("l_quantity").cast("bigint")).as("q"))
    assert(filtered.orderBy("store_id").collect().toSeq ==
      li.orderBy("store_id").collect().toSeq)
  }

  test("fires on the nation joins of the dimension views") {
    assert(scans(Tables.customers(spark, sfDir).select("customer_id", "city")) ==
      Seq("customer"))
    assert(scans(Tables.stores(spark, sfDir).select("store_id")) == Seq("supplier"))
    assert(scans(Tables.stores(spark, sfDir).select("country")).sorted ==
      Seq("nation", "supplier"))
  }

  test("keeps the join when customer_id is read or filtered") {
    assert(scans(sales.groupBy("customer_id").count()).contains("orders"))
    val cust = Tables.table(spark, sfDir, "orders").select("o_custkey").head().getLong(0)
    val oneCustomer = sales.where(col("customer_id") === cust).drop("customer_id")
    assert(scans(oneCustomer).contains("orders"))
    val n = oneCustomer.count()
    assert(n > 0 && n < Tables.table(spark, sfDir, "lineitem").count())
  }

  test("keeps the join when the key only has the foreign key's name") {
    import spark.implicits._
    val orders = Tables.table(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val known = orders.select("o_orderkey").head().getLong(0)
    // a local frame with an l_orderkey column: one key in orders, one not
    val local = Seq(known, -1L).toDF("l_orderkey")
    val joined = local.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey")
    assert(scans(joined) == Seq("orders"))
    assert(joined.collect().map(_.getLong(0)).toSeq == Seq(known))
    // lineitem of one dir against orders of another is no declared key
    val otherDir = s"${new java.io.File(sfDir).getParent}/sf0.01"
    val li = Tables.table(spark, sfDir, "lineitem")
    val o = Tables.table(spark, otherDir, "orders").select("o_orderkey", "o_custkey")
    assert(scans(li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select("l_partkey")).sorted == Seq("lineitem", "orders"))
  }
}

object FkJoinEliminationSpec {
  /** Source tables scanned by `df`'s optimized plan, subqueries included. */
  def scans(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.getName.stripSuffix(".parquet")).mkString
        case other => other.toString
      }
    }
}
