package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.ArtifactCache

/** Loaders for the testdata star schema and the retail-view mapping of
  * SURVEY.md §3 (reference: scripts/load.py:61-130 loads silver tables
  * by name; scripts/extract.py:99-104 lists the retail tables).
  *
  * Scale notes: `sales` is a fact⋈fact join (lineitem⋈orders) that
  * shuffles on the order key — on a real cluster both sides are bucketed
  * by orderkey so the join is co-located; dimension views (customers /
  * stores) join tiny `nation` with a broadcast. Each of these joins runs
  * along a declared foreign key and is dropped where its other side is
  * not read.
  */
object Tables {

  /** A declared foreign key: in every source dir, each `table.column`
    * value is non-null and matches exactly one `refTable.refColumn` row
    * of the same dir. */
  final case class ForeignKey(table: String, column: String,
      refTable: String, refColumn: String)

  /** The declared foreign keys of the star schema (TPC-H's referential
    * contract: dbgen generates lineitems by order and keys every customer
    * and supplier to a nation). [[FkJoinElimination]] reads this list
    * and nothing else; TablesSpec checks every entry at every verified
    * scale factor (no orphan, unique referenced key), so a data drop
    * that breaks the contract fails there, not as silently diverging
    * results. */
  val foreignKeys: Seq[ForeignKey] = Seq(
    ForeignKey("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ForeignKey("customer", "c_nationkey", "nation", "n_nationkey"),
    ForeignKey("supplier", "s_nationkey", "nation", "n_nationkey"))

  /** A source table. Inferring a parquet schema launches a Spark job
    * (about 100 ms warm on local[4]), so the inferred schema is an
    * [[ArtifactCache]] value of the dir: the first read in a session
    * infers it and returns that DataFrame, every later read passes it in
    * (about 15 ms, no job). A table rewritten in place needs
    * `ArtifactCache.invalidateDir`, like every other artifact of its
    * dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    var inferred: DataFrame = null
    val schema = ArtifactCache.value(spark, dir, s"schema/$name") {
      inferred = spark.read.parquet(path)
      inferred.schema
    }
    if (inferred != null) inferred else spark.read.schema(schema).parquet(path)
  }

  /** `events.ts` has shipped as both parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects — read as nanos-since-epoch and
    * downcast) and tz-naive timestamp[µs] (reads natively as
    * TIMESTAMP_NTZ). Adapt on the observed schema; either way the
    * output is a µs TIMESTAMP_NTZ `ts` column (all downstream
    * window/gap logic is second-granular, so truncation is lossless
    * for semantics). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  /** Reference `sale_transactions`: lineitem enriched with the customer
    * key from orders. NB: transaction_id is NOT unique — the sf0.1
    * testdata carries duplicate (l_orderkey, l_linenumber) rows with
    * different products (600k rows, 457k distinct ids), so the ×10
    * packing collides. linenumber stays ≤ 7, so `DIV 10` still
    * recovers the order/basket key exactly; but any operator using
    * transaction_id as an ORDERING tiebreak must add a further key
    * (e.g. product_id) to get a total order both engines agree on.
    *
    * The lineitem⋈orders join exists only to attach `customer_id`.
    * `l_orderkey → o_orderkey` is a declared [[foreignKeys]] entry, so
    * where nothing reads `customer_id` [[FkJoinElimination]] drops the
    * join and the plan scans lineitem alone: no orders scan, no join as
    * wide as the fact (a broadcast probe locally, a shuffle join of the
    * fact at cluster scale). A consumer that reads or filters
    * `customer_id` keeps the join. Every oracle still derives sales
    * THROUGH the join ([[salesCte]]), so the hash gate re-proves the
    * elimination on every run. */
  def sales(spark: SparkSession, dir: String): DataFrame = {
    val li = table(spark, dir, "lineitem")
    val o  = table(spark, dir, "orders").select("o_orderkey", "o_custkey")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("transaction_id"),
        col("o_custkey").as("customer_id"),
        col("l_partkey").as("product_id"),
        col("l_suppkey").as("store_id"),
        col("l_quantity").cast("bigint").as("quantity"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
        col("l_shipdate").as("sale_ts"))
  }

  /** Reference `customers` dimension (customer ⋈ nation, broadcast). */
  def customers(spark: SparkSession, dir: String): DataFrame = {
    val c = table(spark, dir, "customer")
    val n = table(spark, dir, "nation").select("n_nationkey", "n_name")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        col("c_custkey").as("customer_id"),
        col("c_name").as("customer_name"),
        col("c_mktsegment").as("city"),
        col("n_name").as("country"),
        col("c_acctbal").as("acctbal"))
  }

  /** Reference `products` dimension. */
  def products(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(
      col("p_partkey").as("product_id"),
      col("p_name").as("product_name"),
      col("p_brand").as("sku"),
      col("p_type").as("category"),
      col("p_retailprice").as("price"))

  /** Reference `stores` dimension (supplier ⋈ nation, broadcast). */
  def stores(spark: SparkSession, dir: String): DataFrame = {
    val s = table(spark, dir, "supplier")
    val n = table(spark, dir, "nation").select("n_nationkey", "n_name")
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .select(
        col("s_suppkey").as("store_id"),
        col("s_name").as("store_name"),
        col("n_name").as("country"))
  }

  /** Reference `inventory` (extract.py:98, load.py:21 — listed for
    * extract/load but never queried by any reference script): the star
    * schema has no part-supplier stock table, so inventory maps to the
    * availability ledger derivable from sales history — one row per
    * (store, product) ever sold there, with cumulative units moved and
    * the last movement date. One partial-aggregating groupBy of the
    * fact; no extra source scan. */
  def inventory(spark: SparkSession, dir: String): DataFrame =
    sales(spark, dir)
      .groupBy("store_id", "product_id")
      .agg(
        sum(col("quantity")).as("units_sold"),
        count(lit(1)).as("n_movements"),
        max(col("sale_ts").cast("date")).as("last_movement_date"))

  /** Reference `sales_managers` (extract.py:98, load.py:23-24 — loaded,
    * never queried): one regional sales manager per nation; stores roll
    * up to their country's manager. nation ⋈ region is two tiny dims —
    * broadcast, no shuffle. */
  def salesManagers(spark: SparkSession, dir: String): DataFrame = {
    val n = table(spark, dir, "nation")
    val r = table(spark, dir, "region").select("r_regionkey", "r_name")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        col("n_nationkey").as("manager_id"),
        concat(col("n_name"), lit(" sales manager")).as("manager_name"),
        col("n_name").as("country"),
        col("r_name").as("region"))
  }

  /** Shared oracle CTEs: the same mapping in ANSI SQL for DuckDB. */
  val salesCte: String =
    """sales AS (
      |  SELECT l_orderkey*10 + l_linenumber AS transaction_id,
      |         o_custkey  AS customer_id,
      |         l_partkey  AS product_id,
      |         l_suppkey  AS store_id,
      |         CAST(l_quantity AS BIGINT) AS quantity,
      |         l_extendedprice / l_quantity AS unit_price,
      |         l_shipdate AS sale_ts
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""".stripMargin

  val customersCte: String =
    """customers AS (
      |  SELECT c_custkey AS customer_id, c_name AS customer_name,
      |         c_mktsegment AS city, n_name AS country, c_acctbal AS acctbal
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey)""".stripMargin

  val productsCte: String =
    """products AS (
      |  SELECT p_partkey AS product_id, p_name AS product_name, p_brand AS sku,
      |         p_type AS category, p_retailprice AS price
      |  FROM part)""".stripMargin

  val storesCte: String =
    """stores AS (
      |  SELECT s_suppkey AS store_id, s_name AS store_name, n_name AS country
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey)""".stripMargin

  /** Requires [[salesCte]] in the same WITH clause. */
  val inventoryCte: String =
    """inventory AS (
      |  SELECT store_id, product_id,
      |         CAST(SUM(quantity) AS BIGINT) AS units_sold,
      |         COUNT(*) AS n_movements,
      |         MAX(CAST(sale_ts AS DATE)) AS last_movement_date
      |  FROM sales GROUP BY 1, 2)""".stripMargin

  val salesManagersCte: String =
    """sales_managers AS (
      |  SELECT n_nationkey AS manager_id,
      |         n_name || ' sales manager' AS manager_name,
      |         n_name AS country, r_name AS region
      |  FROM nation JOIN region ON n_regionkey = r_regionkey)""".stripMargin
}
