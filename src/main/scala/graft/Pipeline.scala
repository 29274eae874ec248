package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Athena, DataQuality, Gold, Silver}
import graft.sinks.ParquetSink
import graft.sources.{CsvSource, Tables}

/** The reference DAG as a composable library call
  * (dags/etl_retail_pipeline.py: extract ∥3 → transform_to_silver →
  * quality_checks → create_gold → upload_to_s3 → register_in_glue →
  * run_athena_queries), run over a lake base directory with the
  * medallion layout <base>/{bronze,silver,gold}/<table>.
  *
  * Bronze lands as headered CSV for fidelity with the reference's
  * extract stage (extract.py dumps CSV); at 100 TB the bronze landing
  * would go straight to parquet, a change to the extract step's
  * `CsvSource` write and read (there is no switch for it).
  *
  * Concurrency: as the reference runs its extracts as parallel tasks,
  * [[run]] runs each source table's extract → bronze → silver chain, and
  * then the four gold writes and the four catalog reads, on a thread
  * pool that exists for that one run (one worker per source table; the
  * cores are shared by Spark's FIFO scheduler). Every task is joined
  * before [[run]] returns or throws, and the pool's threads have exited
  * by then. The DQ gate stays a barrier: gold starts only after all four
  * silver tables are written and checked.
  */
object Pipeline {

  final case class RunResult(
      silverTables: Map[String, String],
      goldTables: Map[String, String],
      dqPassed: Boolean,
      analytics: Map[String, DataFrame])

  private val retailSchemas: Map[String, StructType] = Map(
    "sales" -> StructType(Seq(
      StructField("transaction_id", LongType), StructField("customer_id", LongType),
      StructField("product_id", LongType), StructField("store_id", LongType),
      StructField("quantity", LongType), StructField("unit_price", DoubleType),
      StructField("sale_ts", StringType))),
    "customers" -> StructType(Seq(
      StructField("customer_id", LongType), StructField("customer_name", StringType),
      StructField("city", StringType), StructField("country", StringType),
      StructField("acctbal", DoubleType))),
    "products" -> StructType(Seq(
      StructField("product_id", LongType), StructField("product_name", StringType),
      StructField("sku", StringType), StructField("category", StringType),
      StructField("price", DoubleType))),
    "stores" -> StructType(Seq(
      StructField("store_id", LongType), StructField("store_name", StringType),
      StructField("country", StringType))))

  /** Full medallion run: returns layer paths, the DQ gate verdict, and
    * the four analytics results computed FROM the lake's gold layer. */
  def run(spark: SparkSession, srcDir: String, lakeBase: String,
      loadDate: String = "d20260101"): RunResult = {
    val extracts: Seq[(String, () => DataFrame)] = Seq(
      "sales"     -> (() => Tables.sales(spark, srcDir)
        .withColumn("sale_ts", col("sale_ts").cast("string"))),
      "customers" -> (() => Tables.customers(spark, srcDir)),
      "products"  -> (() => Tables.products(spark, srcDir)),
      "stores"    -> (() => Tables.stores(spark, srcDir)))
    val pool = new RunPool(extracts.size, "graft-pipeline")
    try {
      // 1-2. per table, one chain: extract → bronze CSV (the reference
      //    extracts each source table to CSV) → explicit-schema CSV read →
      //    clean → partitioned snappy parquet (transform.py semantics) →
      //    THIS run's snapshot, read once: with dynamic partition overwrite
      //    the lake accumulates one load_date partition per daily tick, and
      //    a run's DQ/gold read their own partition (pruned at the
      //    directory level), never a mix of loads
      val chains = pool.all(extracts) { case (name, extract) =>
        val bronze = ParquetSink.layerPath(lakeBase, "bronze", name)
        CsvSource.write(extract(), bronze)
        val cleaned = Silver
          .clean(CsvSource.read(spark, bronze, retailSchemas(name)),
            dateCols = Seq("sale_ts"))
          .withColumn("load_date", lit(loadDate))
        val path = ParquetSink.layerPath(lakeBase, "silver", name)
        ParquetSink.writePartitioned(cleaned, path, Seq("load_date"))
        (name, path, readAs(spark, cleaned, path)
          .where(col("load_date") === loadDate).drop("load_date"))
      }
      val silverPaths = chains.map { case (name, path, _) => name -> path }.toMap
      val silver = chains.map { case (name, _, df) => name -> df }.toMap

      // 3. quality gate on the silver layer, a barrier between silver and
      //    gold: the two dimension-key uniqueness rules, and the sales
      //    rules with the referential-integrity checks (orphan FK rows)
      //    from one scan of silver sales
      val sales = silver("sales")
      val dqPassed = DataQuality
        .genericRules(sales, silver("customers"), silver("products"),
          silver("stores"))
        .agg(min(col("passed"))).head().getBoolean(0)

      // 4. gold aggregates from silver, written in the S3 layout
      val gold = Seq(
        "daily_sales_summary" -> Gold.dailySalesSummaryOf(sales),
        "top_customers"       -> Gold.topCustomersOf(sales, silver("customers")),
        "product_performance" -> Gold.productPerformanceOf(sales, silver("products")),
        "store_performance"   -> Gold.storePerformanceOf(sales, silver("stores")))
      val goldPaths = pool.all(gold) { case (name, df) =>
        name -> ParquetSink.writeGold(df, lakeBase, name)
      }.toMap

      // 5. catalog registration (Glue analog): gold tables by name, read
      //    concurrently, registered on the calling thread
      pool.all(gold) { case (name, df) => name -> readAs(spark, df, goldPaths(name)) }
        .foreach { case (name, view) => view.createOrReplaceTempView(name) }

      // 6. the Athena business queries over the registered gold layer
      val analytics = Map(
        "daily_revenue"       -> Athena.dailyRevenueOf(spark.table("daily_sales_summary")),
        "top_performing_customers" ->
          Athena.topPerformingCustomersOf(spark.table("top_customers")),
        "product_analysis"    -> Athena.productAnalysisOf(spark.table("product_performance")),
        "revenue_by_category" -> Athena.revenueByCategoryOf(spark.table("product_performance")))

      RunResult(silverPaths, goldPaths, dqPassed, analytics)
    } finally pool.close()
  }

  /** Reads back the parquet `written` was just saved to, with its schema
    * (a Glue table's declared schema) instead of a Spark job that infers
    * it from a file footer. */
  private def readAs(spark: SparkSession, written: DataFrame, path: String): DataFrame =
    spark.read.schema(written.schema).parquet(path)

  /** The reference DAG's operational contract
    * (dags/etl_retail_pipeline.py:15-23 — `retries: 1`,
    * `retry_delay`, `catchup=False`) as a library combinator:
    * re-execute a failed attempt up to `retries` times, sleeping
    * `retryDelayMs` between attempts (`sleep` injectable so tests
    * don't wait out the delay). Re-execution is safe BECAUSE [[run]]
    * is idempotent — a rerun into the same lake leaves byte-identical
    * gold and catalog state (pinned in PipelineRunSpec). Non-fatal
    * errors only; the last failure is rethrown once retries are
    * exhausted. */
  def withRetries[T](retries: Int, retryDelayMs: Long = 0L,
      sleep: Long => Unit = Thread.sleep)(attempt: Int => T): T = {
    // retries < 0 would skip the attempt entirely and `throw last`
    // with last == null — an opaque NPE instead of a real error
    require(retries >= 0, s"retries must be >= 0, got $retries")
    var n = 0
    var last: Throwable = null
    while (n <= retries) {
      try return attempt(n)
      catch {
        case scala.util.control.NonFatal(e) =>
          last = e; n += 1
          if (n <= retries && retryDelayMs > 0) sleep(retryDelayMs)
      }
    }
    throw last
  }

  /** The load-date partition tag for an execution date (the reference's
    * `dYYYYMMDD` convention). */
  def loadDateTag(execDate: java.time.LocalDate): String =
    "d" + execDate.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)

  /** Load dates already landed in the lake's silver layer — read from
    * the `load_date=` partition directories of the silver sales table
    * (metadata-only: a directory listing, no data scan). */
  def loadedDates(spark: SparkSession, lakeBase: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(
      ParquetSink.layerPath(lakeBase, "silver", "sales"))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith("load_date="))
      .map(_.stripPrefix("load_date="))
      .toSet
  }

  /** The DAG's scheduling-calendar contract
    * (dags/etl_retail_pipeline.py:97-98 — `schedule_interval='@daily'`,
    * `catchup=False`) as a pure decision: which load dates does the run
    * triggered on `today` process, given the lake's current state?
    *
    * `@daily` closes one interval per day and a run executes for the
    * interval that JUST CLOSED — yesterday. `catchup=False` means a
    * scheduler that was down never backfills the missed intervals: the
    * manifest is always exactly ONE date, yesterday's, no matter how
    * many days are absent from the lake. Re-processing a date already
    * landed is safe — [[run]] is idempotent (byte-identical gold +
    * catalog state, pinned in PipelineRunSpec) — so the manifest only
    * REPORTS rerun-ness, it never skips the date. */
  final case class ManifestEntry(loadDate: String, alreadyLoaded: Boolean)
  def runManifest(spark: SparkSession, lakeBase: String,
      today: java.time.LocalDate): Seq[ManifestEntry] = {
    val tag = loadDateTag(today.minusDays(1))
    Seq(ManifestEntry(tag, loadedDates(spark, lakeBase).contains(tag)))
  }

  /** [[run]] for the dates [[runManifest]] selects — the daily
    * scheduled tick as one call. Returns the manifest with each entry's
    * run result. */
  def runScheduled(spark: SparkSession, srcDir: String, lakeBase: String,
      today: java.time.LocalDate): Seq[(ManifestEntry, RunResult)] =
    runManifest(spark, lakeBase, today).map { e =>
      e -> run(spark, srcDir, lakeBase, e.loadDate)
    }
}
