package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{CsvSource, Tables}
import graft.sinks.{CatalogRegistry, ParquetSink}

/** Source / sink / catalog contract queries (SURVEY §2 rows 1-4, 17-18).
  * Each drives the real component end-to-end (write → read back →
  * verify against the original via the oracle), not a mock.
  */
object Ingest {

  // per-process work dir: two drivers (e.g. Verify and Bench) running
  // concurrently must not overwrite each other's staging output
  private def tmp(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_work_${ProcessHandle.current.pid}/$name"

  /** Parquet scan with filter+projection pushdown: only 4 columns reach
    * the scan, predicates land in PushedFilters. */
  def parquetScan(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .where(col("l_shipdate") >= to_timestamp_ntz(lit("1995-01-01"))
        && col("l_discount") > 0.05)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        Gold.moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")

  /** CSV bronze roundtrip: write nation as headered CSV, read it back
    * with an explicit schema (no inferSchema pass). */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("csv_nation")
    CsvSource.write(Tables.table(spark, dir, "nation"), path)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    CsvSource.read(spark, path, schema).orderBy("n_nationkey")
  }

  /** Partitioned silver sink: write the sales fact snappy-parquet
    * partitioned by ingestion date (transform.py:47-49 partitions by
    * load date, one partition per run), read back and aggregate. */
  def partitionedParquetSink(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("silver_sales")
    val withLoadDate = Tables.sales(spark, dir).withColumn("load_date", lit("d20260101"))
    ParquetSink.writePartitioned(withLoadDate, path, Seq("load_date"))
    spark.read.parquet(path)
      .groupBy(col("load_date").cast("string").as("load_date"))
      .agg(
        count(lit(1)).as("n_rows"),
        Gold.moneySum(col("unit_price") * col("quantity")).as("revenue"))
  }

  /** S3-layout gold sink: write daily_sales_summary under
    * <base>/gold/<table> (aws_upload.py layout) and read it back. */
  def s3LayoutSink(spark: SparkSession, dir: String): DataFrame = {
    val base = tmp("lake")
    val path = ParquetSink.writeGold(Gold.dailySalesSummary(spark, dir), base, "daily_sales_summary")
    spark.read.parquet(path).orderBy("sale_date")
  }

  /** Catalog registration: register the star schema + retail views, then
    * answer an analytics question purely through catalog SQL. */
  def catalogQuery(spark: SparkSession, dir: String): DataFrame = {
    CatalogRegistry.registerStarSchema(spark, dir)
    spark.sql(
      """SELECT c.country,
        |       COUNT(s.transaction_id) AS n_sales,
        |       CAST(SUM(CAST(FLOOR((s.unit_price*s.quantity)*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000 AS revenue
        |FROM sales s JOIN customers c ON s.customer_id = c.customer_id
        |GROUP BY c.country
        |ORDER BY c.country""".stripMargin)
  }

  /** External partitioned catalog: write sales hive-partitioned by sale
    * year, register the directory as an external table with recovered
    * partitions (glue PartitionKeys analog), then answer a
    * year-predicated question by NAME through the catalog — the
    * predicate prunes to the matching partition directories (asserted
    * in CatalogSpec via PartitionFilters). */
  def externalPartitionedCatalog(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("silver_sales_by_year")
    val sales = Tables.sales(spark, dir)
      .withColumn("sale_year", year(col("sale_ts")))
    ParquetSink.writePartitioned(sales, path, Seq("sale_year"))
    CatalogRegistry.registerExternalPartitioned(spark, "silver_sales_ext", path)
    spark.sql(
      """SELECT sale_year, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(FLOOR((unit_price*quantity)*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000 AS revenue
        |FROM silver_sales_ext
        |WHERE sale_year >= 1996
        |GROUP BY sale_year ORDER BY sale_year""".stripMargin)
  }

  /** Lake discovery end-to-end: write two dimension tables under a lake
    * root, then — given only the root, not the table names — discover
    * and register every table directory (the glue crawler analog) and
    * answer a cross-table question purely by catalog name. */
  def lakeDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val root = tmp("disc_lake")
    // recreate the lake root from scratch: discovery registers EVERY
    // directory under it, so a stale table dir left by an earlier run
    // in this JVM would silently join the registered set and make the
    // discovered names environment-dependent
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(rootPath)) fs.delete(rootPath, true)
    Tables.customers(spark, dir).write.mode("overwrite").parquet(s"$root/customers_dim")
    Tables.stores(spark, dir).write.mode("overwrite").parquet(s"$root/stores_dim")
    CatalogRegistry.discoverAndRegister(spark, root, "lake")
    spark.sql(
      """SELECT c.country, n_customers, n_stores
        |FROM (SELECT country, COUNT(*) AS n_customers
        |      FROM lake_customers_dim GROUP BY country) c
        |JOIN (SELECT country, COUNT(*) AS n_stores
        |      FROM lake_stores_dim GROUP BY country) s
        |  ON c.country = s.country
        |ORDER BY c.country""".stripMargin)
  }

  /** JSONL roundtrip — the interchange format of LLM training corpora:
    * write documents as line-delimited JSON, read back with an explicit
    * schema (never an inference pass — at 100 TB schema inference is a
    * full extra scan). Identity-oracled against the source table. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("jsonl_documents")
    Tables.table(spark, dir, "documents").write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.read.schema(schema).json(path)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Schema evolution read: two parquet batches written with different
    * schemas (the early batch predates the `source`/`n_chars` columns —
    * the standard lake drift case), read back as ONE table via
    * `mergeSchema`, missing columns null-filled. At 100 TB the merge is
    * a footer-only operation (no data rewrite) — exactly why evolving
    * readers beat backfills. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("evo_documents")
    val d = Tables.table(spark, dir, "documents")
    d.where(col("doc_id") % 2 === 0).select("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$path/batch_v1")
    d.where(col("doc_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$path/batch_v2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$path/batch_v1", s"$path/batch_v2")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** `src_textlines_roundtrip`: raw text-lines roundtrip — the most
    * common LLM-pretraining ingest shape (one document per line, no
    * container format at all). Writes each document as a
    * tab-delimited line with newline/tab/CR scrubbed from the text
    * (the delimiter-safety pass any line-oriented corpus writer runs;
    * plain char replaces, no regex), reads it back through Spark's
    * `text` source and re-parses the fields. The oracle recomputes the
    * scrub from the documents table, so a split-limit, scrub or cast
    * bug breaks the hash. At 100 TB the text source is
    * splittable-per-file and schema-free — exactly why raw-line
    * corpora stay the interchange format between crawlers and
    * engines. */
  def textlinesRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("textlines_documents")
    val scrub = replace(replace(replace(col("text"),
      lit("\t"), lit(" ")), lit("\n"), lit(" ")), lit("\r"), lit(" "))
    // NULL fields write as explicit empty strings: concat_ws silently
    // DROPS nulls, so a null lang would shift every later field left
    // and leave the line with <4 tab fields (then element_at(f, 4)
    // throws under ANSI). The read side maps '' back to NULL (nullif)
    // and parses defensively (try_element_at/try_cast, like the
    // streaming twin IngestStreams.parseLines) so a short or garbage
    // line yields NULL fields instead of killing the query; the oracle
    // applies the same NULLIF, so NULL and '' round-trip identically
    // on both engines.
    Tables.table(spark, dir, "documents")
      .select(concat_ws("\t",
        coalesce(col("doc_id").cast("string"), lit("")),
        coalesce(col("lang"), lit("")),
        coalesce(col("source"), lit("")),
        coalesce(scrub, lit(""))).as("value"))
      .write.mode("overwrite").text(path)
    spark.read.text(path)
      .select(split(col("value"), "\t", 4).as("f"))
      .select(
        nullif(try_element_at(col("f"), lit(1)), lit(""))
          .try_cast("bigint").as("doc_id"),
        nullif(try_element_at(col("f"), lit(2)), lit("")).as("lang"),
        nullif(try_element_at(col("f"), lit(3)), lit("")).as("source"),
        nullif(try_element_at(col("f"), lit(4)), lit("")).as("text"))
      .orderBy("doc_id")
  }

  /** ORC roundtrip: the engine's columnar-format breadth beyond
    * parquet (both sides of a lake migration). Identity-oracled. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("orc_documents")
    Tables.table(spark, dir, "documents").write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("src_textlines_roundtrip", textlinesRoundtrip,
      """SELECT doc_id, NULLIF(lang, '') AS lang, NULLIF(source, '') AS source,
        |       NULLIF(replace(replace(replace(text, chr(9), ' '), chr(10), ' '),
        |               chr(13), ' '), '') AS text
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("src_schema_evolution", schemaEvolution,
      """SELECT doc_id, text, lang,
        |       CASE WHEN doc_id % 2 = 1 THEN source END AS source,
        |       CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("src_jsonl_roundtrip", jsonlRoundtrip,
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
    QueryDef("snk_orc_roundtrip", orcRoundtrip,
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
    QueryDef("src_parquet_scan", parquetScan,
      """SELECT l_returnflag,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(FLOOR(l_extendedprice*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000 AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    QueryDef("src_csv_roundtrip", csvRoundtrip,
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    QueryDef("snk_partitioned_parquet", partitionedParquetSink,
      s"""WITH ${Tables.salesCte}
         |SELECT 'd20260101' AS load_date, COUNT(*) AS n_rows,
         |       ${Gold.moneySumSql("unit_price*quantity")} AS revenue
         |FROM sales""".stripMargin),
    QueryDef("snk_s3_layout", s3LayoutSink,
      s"""WITH ${Tables.salesCte}
         |SELECT CAST(sale_ts AS DATE) AS sale_date,
         |       COUNT(transaction_id) AS total_orders,
         |       CAST(SUM(quantity) AS BIGINT) AS total_items,
         |       ${Gold.moneySumSql("unit_price*quantity")} AS revenue
         |FROM sales WHERE CAST(sale_ts AS DATE) IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("cat_register_tables", catalogQuery,
      s"""WITH ${Tables.salesCte}, ${Tables.customersCte}
         |SELECT c.country, COUNT(s.transaction_id) AS n_sales,
         |       ${Gold.moneySumSql("s.unit_price*s.quantity")} AS revenue
         |FROM sales s JOIN customers c ON s.customer_id = c.customer_id
         |GROUP BY c.country ORDER BY c.country""".stripMargin),
    QueryDef("cat_external_partitioned", externalPartitionedCatalog,
      s"""WITH ${Tables.salesCte}
         |SELECT CAST(YEAR(sale_ts) AS INT) AS sale_year, COUNT(*) AS n_rows,
         |       ${Gold.moneySumSql("unit_price*quantity")} AS revenue
         |FROM sales WHERE YEAR(sale_ts) >= 1996
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("cat_discover_lake", lakeDiscovery,
      s"""WITH ${Tables.customersCte}, ${Tables.storesCte}
         |SELECT c.country, n_customers, n_stores
         |FROM (SELECT country, COUNT(*) AS n_customers
         |      FROM customers GROUP BY country) c
         |JOIN (SELECT country, COUNT(*) AS n_stores
         |      FROM stores GROUP BY country) s
         |  ON c.country = s.country
         |ORDER BY c.country""".stripMargin))
}
