package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Data-quality suite (reference: scripts/data_quality.py).
  *
  * Scale design: every per-table check set is ONE aggregate pass over
  * the table (data_quality.py re-scans per metric via pandas; here
  * row count, duplicate count and null count come out of a single
  * groupBy-less agg). No driver loops, no collect.
  */
object DataQuality {

  /** One row of (table_name, row_count, column_count, duplicate_rows,
    * null_count) per table — data_quality.py:19-26's checks.
    *
    * r16 (§2.3 shuffle keys instead of payloads): the duplicate check
    * counts distinct FULL rows, whose two-phase plan exchanges every
    * row of the table at full width (measured 31 MB shuffle at sf0.1,
    * ~130 B/row on lineitem). Distinct ROWS equal distinct row HASHES
    * while no two distinct rows collide in xxhash64 (the dd_admission
    * hashed-gram license, re-proven by the oracle gate per verified
    * SF), so the distinct shuffles an 8-byte key instead. Each column
    * is prefixed by its null indicator because xxhash64 SKIPS null
    * inputs — without the indicators, rows differing only in which
    * column holds a value (e.g. (NULL, x) vs (x, NULL)) would hash
    * identically, a systematic collision rather than a 2⁻⁶⁴ one. */
  def tableStats(spark: SparkSession, dir: String, tables: Seq[String]): DataFrame =
    tables.map { t =>
      val df = Tables.table(spark, dir, t)
      val nullSum: Column = df.columns.toSeq
        .map(c => sum(col(c).isNull.cast("long")))
        .reduce(_ + _)
      val rowHash = xxhash64(df.columns.toSeq.flatMap(c =>
        Seq(col(c).isNull.cast("int"), col(c))): _*)
      df.agg(
          count(lit(1)).as("row_count"),
          countDistinct(rowHash).as("distinct_rows"),
          nullSum.as("null_count"))
        .select(
          lit(t).as("table_name"),
          col("row_count"),
          lit(df.columns.length.toLong).as("column_count"),
          (col("row_count") - col("distinct_rows")).as("duplicate_rows"),
          col("null_count"))
    }.reduce(_ unionAll _).orderBy("table_name")

  val statsTables: Seq[String] = Seq("customer", "lineitem", "orders", "part", "supplier")

  def tableStatsQuery(spark: SparkSession, dir: String): DataFrame =
    tableStats(spark, dir, statsTables)

  /** Business-rule checks (data_quality.py:29-33,96-110): uniqueness,
    * not-null, non-negative revenue, top-customers cardinality. */
  def businessRules(spark: SparkSession, dir: String): DataFrame = {
    def rule(name: String, table: String, observed: DataFrame,
             pass: Column => Column = _ === 0L): DataFrame =
      observed.select(
        lit(name).as("check_name"),
        lit(table).as("table_name"),
        pass(col("observed")).as("passed"),
        col("observed"))

    val customer = Tables.table(spark, dir, "customer")
    val lineitem = Tables.table(spark, dir, "lineitem")
    // r16 (§6 scan elimination, the nullProfile melt pattern): the two
    // lineitem rules fold into ONE aggregate pass whose 1-row result
    // melts into two rule rows map-side — the per-rule formulation
    // scanned lineitem twice for two counters the same agg can carry
    val liRules = lineitem
      .agg(sum(col("l_partkey").isNull.cast("long")).as("nn"),
        sum((col("l_quantity") <= 0).cast("long")).as("np"))
      .select(explode(map(
        lit("product_id_not_null"), col("nn"),
        lit("quantity_positive"), col("np"))).as(Seq("check_name", "observed")))
      .select(col("check_name"), lit("lineitem").as("table_name"),
        (col("observed") === 0L).as("passed"), col("observed"))
    Seq(
      rule("customer_id_unique", "customer",
        customer.agg((count(lit(1)) - countDistinct(col("c_custkey"))).as("observed"))),
      liRules,
      rule("revenue_non_negative", "daily_sales_summary",
        Gold.dailySalesSummary(spark, dir)
          .agg(sum((col("revenue") < 0).cast("long")).as("observed"))),
      rule("top_customers_max_10", "top_customers",
        Gold.topCustomers(spark, dir).agg(count(lit(1)).as("observed")), _ <= 10L)
    ).reduce(_ unionAll _).orderBy("check_name")
  }

  /** Sketch-based table stats for the 100 TB path: exact
    * `COUNT(DISTINCT struct(*))` needs a full-width distinct shuffle —
    * prohibitive at scale — so duplicate detection drops to HLL++
    * (`approx_count_distinct`, mergeable, one pass, ~2% error). Exact
    * stats stay available via `tableStats` for audit-grade runs. */
  def tableStatsApprox(spark: SparkSession, dir: String, tables: Seq[String],
      rsd: Double = 0.02): DataFrame =
    tables.map { t =>
      val df = Tables.table(spark, dir, t)
      val nullSum: Column = df.columns.toSeq
        .map(c => sum(col(c).isNull.cast("long")))
        .reduce(_ + _)
      df.agg(
          count(lit(1)).as("row_count"),
          approx_count_distinct(struct(df.columns.map(col).toSeq: _*), rsd)
            .as("approx_distinct_rows"),
          nullSum.as("null_count"))
        .select(
          lit(t).as("table_name"),
          col("row_count"),
          lit(df.columns.length.toLong).as("column_count"),
          greatest(col("row_count") - col("approx_distinct_rows"), lit(0L))
            .as("approx_duplicate_rows"),
          col("null_count"))
    }.reduce(_ unionAll _).orderBy("table_name")

  /** Whether the row's `fkCol` has no match among the keys of `dimKeys`
    * (a single-column DataFrame) — a correlated NOT EXISTS, which the
    * optimizer plans as one ExistenceJoin against the broadcast
    * dimension: a map-side probe, the fact is never shuffled. Like the
    * left-anti join it replaces, a row counts once however often its
    * key repeats in the dimension, and a null FK is an orphan. */
  private def isOrphan(fkCol: String, dimKeys: DataFrame): Column =
    !broadcast(dimKeys.toDF("k"))
      .where(col("k") === col(s"$FactAlias.$fkCol").outer()).exists()

  /** The alias [[flagCounts]] gives the fact, so [[isOrphan]]'s outer
    * reference names it. Unqualified, `outer()` resolves to the
    * subquery's own column when the dimension key has the FK's name
    * (`customer_id` on both sides): every row then "exists" and no
    * orphan is ever counted. */
  private val FactAlias = "dq_fact"

  /** For each `(name, flag)`, the number of rows of `fact` the flag
    * holds for, as rows `(name, observed)`: every flag in ONE
    * projection of `fact`, counted in one global aggregate, so the fact
    * is scanned once however many checks ride on it (the
    * [[businessRules]] melt). */
  private def flagCounts(fact: DataFrame, flags: Seq[(String, Column)]): DataFrame =
    fact.as(FactAlias).select(flags.map { case (name, flag) => flag.as(name) }: _*)
      .select(flags.map { case (name, _) => count_if(col(name)).as(name) }: _*)
      .select(explode(map(flags.flatMap { case (name, _) =>
        Seq(lit(name), col(name)) }: _*)).as(Seq("name", "observed")))

  /** Referential-integrity checks: orphan fact rows per foreign key,
    * one row `(fk_name, orphan_rows, passed)` per `(name, fkCol,
    * dimKeys)` check — [[isOrphan]] flags counted by [[flagCounts]]:
    * one scan of the fact for every foreign key (one broadcast
    * ExistenceJoin per dimension), no shuffle of the fact, no
    * collect. */
  def orphanChecks(fact: DataFrame,
      checks: Seq[(String, String, DataFrame)]): DataFrame =
    flagCounts(fact, checks.map { case (name, fk, dim) => name -> isOrphan(fk, dim) })
      .select(col("name").as("fk_name"), col("observed").as("orphan_rows"),
        (col("observed") === 0L).as("passed"))

  def referentialIntegrity(spark: SparkSession, dir: String): DataFrame =
    orphanChecks(Tables.sales(spark, dir), Seq(
      ("sales_customer_fk", "customer_id",
        Tables.customers(spark, dir).select("customer_id")),
      ("sales_product_fk", "product_id",
        Tables.products(spark, dir).select("product_id")),
      ("sales_store_fk", "store_id",
        Tables.stores(spark, dir).select("store_id"))))
      .orderBy("fk_name")

  /** `dq_drift`: distribution drift between two snapshots of `events`
    * — total-variation distance between the per-type value histograms
    * of the baseline slice and the candidate slice (stand-in snapshots:
    * even vs odd event_id; in deployment the two sides are yesterday's
    * and today's partition). TV = ½ Σ|p_i − q_i| over [[Events.HistBucketWidth]]
    * bins — the drift monitor a feature pipeline runs before promoting
    * a new snapshot, and the bounded, interpretable cousin of a KS test
    * (0 = identical histograms, 1 = disjoint).
    *
    * Determinism at scale: both histograms and the cross-multiplied
    * numerator Σ|c_i·m − d_i·n| are pure BIGINT (no double is summed,
    * so no ordering sensitivity); the single final division is one
    * correctly-rounded IEEE op. Plan: one partial-aggregated pass to
    * (type, bin) counts, a broadcast join of the per-type totals
    * (#types rows), one more tiny aggregate — the events fact is
    * scanned exactly once. */
  def drift(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir)
      .select(col("event_type"),
        expr(s"CAST(FLOOR(value) AS BIGINT) DIV ${Events.HistBucketWidth}").as("bin"),
        (col("event_id") % 2 === 0).as("is_base"))
      .groupBy("event_type", "bin")
      .agg(count(when(col("is_base"), 1)).as("c"),
        count(when(!col("is_base"), 1)).as("d"))
    val t = b.groupBy("event_type")
      .agg(sum("c").as("n"), sum("d").as("m"))
    b.join(broadcast(t), "event_type")
      .groupBy(col("event_type"), col("n").as("n_base"), col("m").as("n_cand"))
      .agg(sum(abs(col("c") * col("m") - col("d") * col("n"))).as("num"))
      .select(col("event_type"), col("n_base"), col("n_cand"),
        (col("num").cast("double") /
          (lit(2.0) * col("n_base") * col("n_cand"))).as("tv_distance"))
      .orderBy("event_type")
  }

  /** Rule set over caller-provided retail tables (the Pipeline's silver
    * gate): key uniqueness of two dimensions, one aggregate each; the
    * not-null and positivity rules on `sales` and its three FK orphan
    * checks ([[isOrphan]]), all six from ONE scan of `sales`
    * ([[flagCounts]]). Rows `(check_name, table_name, passed,
    * observed)`. */
  def genericRules(sales: DataFrame, customers: DataFrame,
      products: DataFrame, stores: DataFrame): DataFrame = {
    def unique(name: String, table: String, dim: DataFrame, key: String): DataFrame =
      dim.agg((count(lit(1)) - countDistinct(col(key))).as("observed"))
        .select(lit(name).as("name"), lit(table).as("table_name"), col("observed"))
    val fks = Seq("customer_id" -> customers, "product_id" -> products,
      "store_id" -> stores)
    val salesRules = flagCounts(sales, Seq(
        "product_id_not_null" -> col("product_id").isNull,
        "quantity_positive" -> (col("quantity") <= 0),
        "unit_price_non_negative" -> (col("unit_price") < 0)) ++
      fks.map { case (fk, dim) => s"sales_${fk}_fk" -> isOrphan(fk, dim.select(fk)) })
    Seq(
      unique("customer_id_unique", "customers", customers, "customer_id"),
      unique("product_id_unique", "products", products, "product_id"),
      salesRules.select(col("name"), lit("sales").as("table_name"), col("observed"))
    ).reduce(_ unionAll _)
      .select(col("name").as("check_name"), col("table_name"),
        (col("observed") === 0L).as("passed"), col("observed"))
      .orderBy("check_name")
  }

  /** Fixed-point tolerance (1e-4 units) under which an order header
    * total and its recomputed line total count as reconciled: 100 units
    * = one cent. */
  val ReconcileTolI = 100L

  /** `dq_order_reconciliation`: cross-table consistency check — does
    * each order header's `o_totalprice` equal the sum of its lines'
    * `extendedprice·(1−discount)·(1+tax)`? The classic warehouse
    * header-vs-detail reconciliation (a failed load, a partial ingest,
    * or a currency bug shows up here before any gold number is wrong).
    * One summary row: order counts, within-a-cent match count, and the
    * total / worst absolute drift.
    *
    * Scale shape: lines collapse to one fixed-point total per order in
    * a partial-aggregating groupBy, then join the header on the SAME
    * key — co-partitioned at a bucketed warehouse, one fact shuffle.
    * Both sides floor to 1e-4 BEFORE differencing, so the comparison is
    * exact integer arithmetic (DECIMAL drift sums are order-independent
    * and engine-portable); the final rollup is a 1-row aggregate. */
  def orderReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(28, 0)
    val lines = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")) * lit(10000)).cast(dec).as("line_i"))
      .groupBy("o_orderkey")
      .agg(sum(col("line_i")).as("lines_i"))
    Tables.table(spark, dir, "orders")
      .select(col("o_orderkey"),
        floor(col("o_totalprice") * lit(10000)).cast(dec).as("header_i"))
      // left join: a header with NO lines is exactly the failed-load
      // case this check exists to catch — its whole total is drift
      .join(lines, Seq("o_orderkey"), "left")
      .select((col("header_i") - coalesce(col("lines_i"), lit(0).cast(dec)))
        .cast(DecimalType(38, 0)).as("diff_i"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(abs(col("diff_i")) <= ReconcileTolI, 1L).otherwise(0L))
          .as("n_matched"),
        sum(when(abs(col("diff_i")) > ReconcileTolI, 1L).otherwise(0L))
          .as("n_mismatched"),
        (sum(abs(col("diff_i"))).cast("double") / 10000).as("total_abs_drift"),
        (max(abs(col("diff_i"))).cast("double") / 10000).as("max_abs_drift"))
      .withColumn("match_rate",
        col("n_matched").cast("double") / col("n_orders").cast("double"))
  }

  // ---- oracles ----------------------------------------------------------

  private val tableCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "orders"   -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "part"     -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))

  private def statsSql(t: String): String = {
    val cols = tableCols(t)
    val nullSum = cols.map(c => s"CASE WHEN $c IS NULL THEN 1 ELSE 0 END").mkString(" + ")
    s"""SELECT '$t' AS table_name,
       |  (SELECT COUNT(*) FROM $t) AS row_count,
       |  CAST(${cols.length} AS BIGINT) AS column_count,
       |  (SELECT COUNT(*) FROM $t) - (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM $t)) AS duplicate_rows,
       |  (SELECT CAST(COALESCE(SUM($nullSum), 0) AS BIGINT) FROM $t) AS null_count""".stripMargin
  }

  /** Robust-z threshold for daily-volume anomaly flags. */
  val VolumeRobustK = 3.0

  /** Columns profiled by [[nullProfile]], with their string-ness —
    * HARDCODED (not reflected off the live schema) so the static
    * oracle SQL and the Spark plan enumerate the identical column set;
    * DataQualitySpec asserts the list matches the parquet schema, so
    * schema drift fails CI instead of silently shrinking the profile. */
  val ProfileColumns: Seq[(String, Seq[(String, Boolean)])] = Seq(
    "customer" -> Seq("c_custkey" -> false, "c_name" -> true,
      "c_nationkey" -> false, "c_acctbal" -> false, "c_mktsegment" -> true),
    "orders" -> Seq("o_orderkey" -> false, "o_custkey" -> false,
      "o_orderstatus" -> true, "o_totalprice" -> false,
      "o_orderdate" -> false, "o_orderpriority" -> true),
    "part" -> Seq("p_partkey" -> false, "p_name" -> true, "p_brand" -> true,
      "p_type" -> true, "p_size" -> false, "p_retailprice" -> false),
    "supplier" -> Seq("s_suppkey" -> false, "s_name" -> true,
      "s_nationkey" -> false, "s_acctbal" -> false),
    "documents" -> Seq("doc_id" -> false, "text" -> true, "lang" -> true,
      "source" -> true, "n_chars" -> false))

  /** `dq_null_profile`: column-level completeness profile — per
    * (table, column): row count, null count, null rate, and for string
    * columns the blank count (empty/whitespace-only). The profiler
    * beneath [[tableStats]]' table-level totals: a feed whose
    * `o_orderdate` suddenly nulls 3% of rows moves THIS table before
    * any business aggregate notices.
    *
    * Scale shape: ONE map-side-partial aggregate pass per table (every
    * column's null/blank counters collapse in the same agg — no
    * per-column scans), producing a single row that explodes into
    * per-column rows driver-side of the shuffle: output is
    * column-catalog-sized metadata at any row count. */
  def nullProfile(spark: SparkSession, dir: String): DataFrame =
    ProfileColumns.map { case (t, cols) =>
      val df = Tables.table(spark, dir, t)
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap { case (c, isStr) =>
          Seq(sum(col(c).isNull.cast("long")).as(s"__nn_$c")) ++
            (if (isStr) Seq(sum((col(c).isNotNull &&
              trim(col(c)) === "").cast("long")).as(s"__nb_$c"))
            else Nil)
        }
      val melted = cols.flatMap { case (c, isStr) =>
        Seq(lit(c): Column,
          struct(col(s"__nn_$c").as("n_null"),
            (if (isStr) col(s"__nb_$c") else lit(null).cast("long"))
              .as("n_blank")))
      }
      df.agg(aggs.head, aggs.tail: _*)
        .select(lit(t).as("table_name"), col("n_rows"),
          explode(map(melted: _*)).as(Seq("column_name", "m")))
        .select(col("table_name"), col("column_name"), col("n_rows"),
          col("m.n_null").as("n_null"), col("m.n_blank").as("n_blank"),
          (col("m.n_null").cast("double") / col("n_rows").cast("double"))
            .as("null_rate"))
    }.reduce(_ unionAll _).orderBy("table_name", "column_name")

  /** `dq_key_profile`: candidate-key discovery — per (table, column):
    * row count, non-null distinct count, and the unique-key flag
    * (distinct == rows). The profiling step before declaring primary
    * keys / dedup keys on an unfamiliar feed, next to [[nullProfile]]'s
    * completeness view.
    *
    * Scale shape: the exact path is ONE aggregate per table whose
    * multi-DISTINCT plans as a single Expand (#cols-way map-side
    * replication — no per-column scans); the [[keyProfileApprox]] twin
    * swaps in mergeable HLL sketches (one pass, no Expand) — the
    * 100-TB path, tolerance-tested against exact like
    * [[tableStatsApprox]]. */
  def keyProfile(spark: SparkSession, dir: String): DataFrame =
    keyProfileImpl(spark, dir, exact = true)

  def keyProfileApprox(spark: SparkSession, dir: String): DataFrame =
    keyProfileImpl(spark, dir, exact = false)

  private def keyProfileImpl(spark: SparkSession, dir: String,
      exact: Boolean): DataFrame =
    ProfileColumns.map { case (t, cols) =>
      val df = Tables.table(spark, dir, t)
      // r16 (§2.3): the exact path's multi-DISTINCT Expand shuffles the
      // raw column values; distinct counts equal distinct-HASH counts
      // (oracle-verified per SF), so shuffle 8-byte keys. The isNotNull
      // gate keeps countDistinct's null-skip semantics — xxhash64 of a
      // null input degenerates to the seed, a countable value. The
      // approx twin keeps RAW values: its HLL sketch hashes internally,
      // and re-hashing would change the published estimates.
      val aggs = count(lit(1)).as("n_rows") +: cols.map { case (c, _) =>
        (if (exact) countDistinct(when(col(c).isNotNull, xxhash64(col(c))))
        else approx_count_distinct(col(c))).as(s"__d_$c")
      }
      val melted = cols.flatMap { case (c, _) =>
        Seq(lit(c): Column, col(s"__d_$c"))
      }
      df.agg(aggs.head, aggs.tail: _*)
        .select(lit(t).as("table_name"), col("n_rows"),
          explode(map(melted: _*)).as(Seq("column_name", "n_distinct")))
        .select(col("table_name"), col("column_name"), col("n_rows"),
          col("n_distinct"),
          (col("n_distinct") === col("n_rows")).as("is_unique_key"))
    }.reduce(_ unionAll _).orderBy("table_name", "column_name")

  /** `dq_value_skew`: per-column value-concentration profile — for
    * every profiled (table, column): non-null count, distinct count,
    * the heaviest value's share, and the Simpson concentration index
    * Σ(c_v/N)² (the collision probability of two random rows — which
    * is EXACTLY the expected relative size of the biggest shuffle
    * bucket when the column is used as a join/groupBy key, so this is
    * the skew screen run before trusting a column as a partition key;
    * [[keyProfile]] answers "is it unique", this answers "is it
    * usable"). Stays in +,×,/ over exact counts — Shannon entropy
    * would need ln, which the transcendental rule bans.
    *
    * Scale shape: one map-explode pass per table (column-values
    * unified as 8-byte xxhash64 keys — r16, §2.3: every statistic here
    * is a function of the per-value COUNTS alone, so grouping by the
    * value's hash shuffles fixed-width longs instead of casted strings;
    * counts are identical while no two distinct in-column values
    * collide, which the oracle gate — whose SQL groups the RAW columns
    * — re-proves at every verified SF. Nulls are mapped to null BEFORE
    * hashing, because xxhash64 of a null input degenerates to the seed,
    * which would count the null bucket as a value), a (column, value)
    * partial agg, then a column-sized rollup; Σc² is a DECIMAL(38,0)
    * sum so the index survives any N exactly. */
  def valueSkew(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    ProfileColumns.map { case (t, cols) =>
      val df = Tables.table(spark, dir, t)
      val pairs = df.select(explode(map(cols.flatMap { case (c, _) =>
          Seq(lit(c): Column, when(col(c).isNotNull, xxhash64(col(c))))
        }: _*)).as(Seq("column_name", "v")))
        .where(col("v").isNotNull)
      pairs.groupBy("column_name", "v").agg(count(lit(1)).as("c"))
        .groupBy("column_name")
        .agg(sum("c").as("n_values"), count(lit(1)).as("n_distinct"),
          max("c").as("top_count"),
          sum((col("c") * col("c")).cast(dec)).as("s2"))
        .select(lit(t).as("table_name"), col("column_name"),
          col("n_values"), col("n_distinct"),
          (col("top_count").cast("double") / col("n_values").cast("double"))
            .as("top_share"),
          (col("s2").cast("double")
            / (col("n_values").cast("double") * col("n_values").cast("double")))
            .as("simpson"))
    }.reduce(_ unionAll _).orderBy("table_name", "column_name")
  }

  private def valueSkewOracle: String =
    ProfileColumns.map { case (t, cols) =>
      cols.map { case (c, _) =>
        s"""SELECT '$t' AS table_name, '$c' AS column_name,
           |  CAST(SUM(c) AS BIGINT) AS n_values, COUNT(*) AS n_distinct,
           |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_share,
           |  CAST(SUM(CAST(c*c AS DECIMAL(38,0))) AS DOUBLE)
           |    / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) AS simpson
           |FROM (SELECT COUNT(*) AS c FROM $t
           |      WHERE $c IS NOT NULL GROUP BY $c)""".stripMargin
      }.mkString("\nUNION ALL\n")
    }.mkString("\nUNION ALL\n") + "\nORDER BY table_name, column_name"

  private def keyProfileOracle: String =
    ProfileColumns.map { case (t, cols) =>
      cols.map { case (c, _) =>
        s"""SELECT '$t' AS table_name, '$c' AS column_name,
           |  COUNT(*) AS n_rows, COUNT(DISTINCT $c) AS n_distinct,
           |  COUNT(DISTINCT $c) = COUNT(*) AS is_unique_key FROM $t""".stripMargin
      }.mkString("\nUNION ALL\n")
    }.mkString("\nUNION ALL\n") + "\nORDER BY table_name, column_name"

  private def nullProfileOracle: String =
    ProfileColumns.map { case (t, cols) =>
      cols.map { case (c, isStr) =>
        val blank = if (isStr)
          s"CAST(SUM(CASE WHEN $c IS NOT NULL AND TRIM($c) = '' THEN 1 ELSE 0 END) AS BIGINT)"
        else "CAST(NULL AS BIGINT)"
        s"""SELECT '$t' AS table_name, '$c' AS column_name,
           |  COUNT(*) AS n_rows, COUNT(*) - COUNT($c) AS n_null,
           |  $blank AS n_blank,
           |  CAST(COUNT(*) - COUNT($c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           |    AS null_rate FROM $t""".stripMargin
      }.mkString("\nUNION ALL\n")
    }.mkString("\nUNION ALL\n") + "\nORDER BY table_name, column_name"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dq_fd_profile", fdProfile, {
      val perFd = FdCatalog
        .map { case (name, src, lhs, rhs) =>
          s"""SELECT '$name' AS fd, COUNT(*) AS n_keys,
             |       CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_violations,
             |       MAX(k) AS max_variants,
             |       CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |         / CAST(COUNT(*) AS DOUBLE) AS violation_rate
             |FROM (SELECT $lhs, COUNT(DISTINCT $rhs) AS k
             |      FROM $src GROUP BY 1)""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH ${Tables.salesCte}
         |SELECT * FROM (
         |$perFd
         |) ORDER BY fd""".stripMargin
    }),
    QueryDef("dq_null_profile", nullProfile, nullProfileOracle),
    QueryDef("dq_key_profile", keyProfile, keyProfileOracle),
    QueryDef("dq_value_skew", valueSkew, valueSkewOracle),
    QueryDef("dq_order_reconciliation", orderReconciliation,
      s"""WITH l AS (SELECT l_orderkey AS o_orderkey,
         |             SUM(CAST(FLOOR(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*10000)
         |                 AS DECIMAL(28,0))) AS lines_i
         |           FROM lineitem GROUP BY 1),
         |d AS (SELECT CAST(CAST(FLOOR(o_totalprice*10000) AS DECIMAL(28,0))
         |               - COALESCE(lines_i, 0) AS DECIMAL(38,0)) AS diff_i
         |      FROM orders LEFT JOIN l USING (o_orderkey)),
         |a AS (SELECT COUNT(*) AS n_orders,
         |        CAST(SUM(CASE WHEN ABS(diff_i) <= $ReconcileTolI THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_matched,
         |        CAST(SUM(CASE WHEN ABS(diff_i) > $ReconcileTolI THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_mismatched,
         |        CAST(SUM(ABS(diff_i)) AS DOUBLE)/10000 AS total_abs_drift,
         |        CAST(MAX(ABS(diff_i)) AS DOUBLE)/10000 AS max_abs_drift
         |      FROM d)
         |SELECT n_orders, n_matched, n_mismatched, total_abs_drift, max_abs_drift,
         |       CAST(n_matched AS DOUBLE)/CAST(n_orders AS DOUBLE) AS match_rate
         |FROM a""".stripMargin),
    QueryDef("dq_event_dups", eventDups,
      """SELECT COUNT(*) AS n_events,
        |       COUNT(DISTINCT event_id) AS n_distinct_ids,
        |       COUNT(*) - COUNT(DISTINCT event_id) AS n_duplicates,
        |       COUNT(*) = COUNT(DISTINCT event_id) AS ids_unique
        |FROM events""".stripMargin),
    QueryDef("dq_temporal_integrity", temporalIntegrity,
      """WITH j AS (SELECT CAST(l_shipdate AS DATE) AS ship,
        |             CAST(o_orderdate AS DATE) AS placed
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |a AS (SELECT COUNT(*) AS n_lines,
        |        CAST(SUM(CASE WHEN ship < placed THEN 1 ELSE 0 END) AS BIGINT)
        |          AS sbo,
        |        CAST(SUM(CASE WHEN date_diff('day', placed, ship) > 365
        |                      THEN 1 ELSE 0 END) AS BIGINT) AS sol
        |      FROM j)
        |SELECT rule, n_violations, n_lines,
        |       CAST(n_violations AS DOUBLE)/CAST(n_lines AS DOUBLE)
        |         AS violation_rate
        |FROM (
        |  SELECT 'ship_before_order' AS rule, sbo AS n_violations, n_lines FROM a
        |  UNION ALL
        |  SELECT 'ship_over_year_late', sol, n_lines FROM a)
        |ORDER BY rule""".stripMargin),
    QueryDef("dq_benford", benford, {
      // exponent suffix: a bare decimal literal parses as DECIMAL in
      // DuckDB and the decimal→double conversion can land an ulp off
      // the strtod parse; `...e0` is an approximate-numeric literal,
      // parsed directly as DOUBLE in both engines
      val cases = (1 to 9)
        .map(d => s"WHEN digit = $d THEN ${BenfordExpected(d)}e0")
        .mkString("CASE ", " ", " ELSE 0.0e0 END")
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
         |             AS VARCHAR), 1, 1) AS INT) AS digit
         |           FROM orders),
         |g AS (SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS total FROM g)
         |SELECT digit, n_orders,
         |       CAST(n_orders AS DOUBLE)/CAST(total AS DOUBLE) AS observed_frac,
         |       $cases AS expected_frac,
         |       ABS(CAST(n_orders AS DOUBLE)/CAST(total AS DOUBLE)
         |           - ($cases)) AS abs_dev
         |FROM g, t ORDER BY digit""".stripMargin
    }),
    QueryDef("dq_hour_coverage", hourCoverage,
      """WITH hd AS (SELECT DISTINCT
        |              date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
        |              CAST(hour(ts) AS BIGINT) AS hr
        |            FROM events),
        |g AS (SELECT eday, COUNT(*) AS n_active_hours FROM hd GROUP BY 1)
        |SELECT DATE '1970-01-01' + CAST(eday AS INT) AS day, n_active_hours,
        |       24 - n_active_hours AS n_silent_hours,
        |       n_active_hours < 24 AS coverage_gap
        |FROM g ORDER BY day""".stripMargin),
    QueryDef("dq_error_rate", errorRate,
      s"""WITH d AS (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
         |                  COUNT(*) AS n_events,
         |                  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |                    AS BIGINT) AS n_errors
         |           FROM events GROUP BY 1),
         |r AS (SELECT eday, n_events, n_errors,
         |             (n_errors * 100000) // n_events AS rate_m
         |      FROM d),
         |m AS (SELECT ${Gold.fixedRoundSql("quantile_cont(rate_m, 0.5)", 4)} AS med
         |      FROM r),
         |x AS (SELECT med,
         |        ${Gold.fixedRoundSql("quantile_cont(ABS(rate_m - med), 0.5)", 4)} AS mad
         |      FROM r, m GROUP BY med)
         |SELECT DATE '1970-01-01' + CAST(eday AS INT) AS day, n_events, n_errors,
         |       CAST(rate_m AS DOUBLE)/100000 AS err_rate,
         |       ABS(rate_m - med) > CAST($VolumeRobustK AS DOUBLE) * mad
         |         AS rate_anomaly
         |FROM r, x ORDER BY day""".stripMargin),
    QueryDef("dq_volume_anomaly", volumeAnomaly,
      s"""WITH d AS (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
         |                  COUNT(*) AS n_events
         |           FROM events GROUP BY 1),
         |m AS (SELECT ${Gold.fixedRoundSql("quantile_cont(n_events, 0.5)", 4)} AS med
         |      FROM d),
         |x AS (SELECT med,
         |        ${Gold.fixedRoundSql("quantile_cont(ABS(n_events - med), 0.5)", 4)} AS mad
         |      FROM d, m GROUP BY med)
         |SELECT DATE '1970-01-01' + CAST(eday AS INT) AS day, n_events, med, mad,
         |       ABS(n_events - med) > CAST($VolumeRobustK AS DOUBLE) * mad
         |         AS volume_anomaly
         |FROM d, x ORDER BY day""".stripMargin),
    QueryDef("dq_table_stats", tableStatsQuery,
      (statsTables.map(statsSql).mkString("", "\nUNION ALL\n", "\n") +
        "ORDER BY table_name")),
    QueryDef("dq_business_rules", businessRules,
      s"""WITH ${Tables.salesCte},
         |daily AS (
         |  SELECT CAST(sale_ts AS DATE) AS sale_date,
         |         ${Gold.moneySumSql("unit_price*quantity")} AS revenue
         |  FROM sales WHERE CAST(sale_ts AS DATE) IS NOT NULL GROUP BY 1),
         |checks(check_name, table_name, observed) AS (
         |  SELECT 'customer_id_unique', 'customer',
         |         (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
         |  UNION ALL SELECT 'product_id_not_null', 'lineitem',
         |         (SELECT CAST(COALESCE(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END),0) AS BIGINT) FROM lineitem)
         |  UNION ALL SELECT 'quantity_positive', 'lineitem',
         |         (SELECT CAST(COALESCE(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END),0) AS BIGINT) FROM lineitem)
         |  UNION ALL SELECT 'revenue_non_negative', 'daily_sales_summary',
         |         (SELECT CAST(COALESCE(SUM(CASE WHEN revenue < 0 THEN 1 ELSE 0 END),0) AS BIGINT) FROM daily)
         |  UNION ALL SELECT 'top_customers_max_10', 'top_customers',
         |         (SELECT LEAST(COUNT(DISTINCT customer_id), 10) FROM sales))
         |SELECT check_name, table_name,
         |       (observed = 0 OR check_name = 'top_customers_max_10' AND observed <= 10) AS passed,
         |       CAST(observed AS BIGINT) AS observed
         |FROM checks ORDER BY check_name""".stripMargin),
    QueryDef("dq_referential", referentialIntegrity,
      s"""WITH ${Tables.salesCte}, ${Tables.customersCte}, ${Tables.productsCte},
         |${Tables.storesCte},
         |checks(fk_name, orphan_rows) AS (
         |  SELECT 'sales_customer_fk',
         |         (SELECT COUNT(*) FROM sales s WHERE NOT EXISTS
         |            (SELECT 1 FROM customers c WHERE c.customer_id = s.customer_id))
         |  UNION ALL SELECT 'sales_product_fk',
         |         (SELECT COUNT(*) FROM sales s WHERE NOT EXISTS
         |            (SELECT 1 FROM products p WHERE p.product_id = s.product_id))
         |  UNION ALL SELECT 'sales_store_fk',
         |         (SELECT COUNT(*) FROM sales s WHERE NOT EXISTS
         |            (SELECT 1 FROM stores t WHERE t.store_id = s.store_id)))
         |SELECT fk_name, CAST(orphan_rows AS BIGINT) AS orphan_rows,
         |       orphan_rows = 0 AS passed
         |FROM checks ORDER BY fk_name""".stripMargin),
    QueryDef("dq_drift", drift,
      s"""WITH b AS (
         |  SELECT event_type,
         |         CAST(FLOOR(value) AS BIGINT) // ${Events.HistBucketWidth} AS bin,
         |         COUNT(*) FILTER (WHERE event_id % 2 = 0) AS c,
         |         COUNT(*) FILTER (WHERE event_id % 2 = 1) AS d
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n,
         |             CAST(SUM(d) AS BIGINT) AS m
         |      FROM b GROUP BY 1)
         |SELECT b.event_type, n AS n_base, m AS n_cand,
         |       CAST(SUM(ABS(c*m - d*n)) AS DOUBLE)
         |         / (CAST(2 AS DOUBLE) * n * m) AS tv_distance
         |FROM b JOIN t USING (event_type)
         |GROUP BY b.event_type, n, m ORDER BY event_type""".stripMargin))

  /** `dq_volume_anomaly`: partition-volume monitoring — daily event
    * counts flagged against the median/MAD of the daily series (the
    * "did yesterday's load half-arrive / double-ingest" alarm every
    * scheduled pipeline needs; robust stats so one bad day cannot
    * drag its own baseline).
    *
    * Scale shape: ONE partial-aggregating groupBy of the fact down to
    * per-day counts; everything after operates on the DAY series, which
    * is calendar-bounded (thousands of rows at any corpus size — so
    * the exact single-group `percentile` here is genuinely scale-safe,
    * unlike value-distribution quantiles, which need the approx twin).
    * Both robust stats ride 1-row broadcasts back over the day series.
    * Integer epoch-day math. */
  def volumeAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("eday"))
      .agg(count(lit(1)).as("n_events"))
    val med = daily
      .agg(Gold.fixedRound(Gold.pct("n_events", 0.5, exact = true), 4).as("med"))
    val mad = daily.crossJoin(broadcast(med))
      .agg(max(col("med")).as("med"),
        Gold.fixedRound(Gold.pct("abs(n_events - med)", 0.5, exact = true), 4)
          .as("mad"))
    daily.crossJoin(broadcast(mad))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("eday").cast("int")).as("day"),
        col("n_events"), col("med"), col("mad"),
        (abs(col("n_events") - col("med")) > lit(VolumeRobustK) * col("mad"))
          .as("volume_anomaly"))
      .orderBy("day")
  }

  /** `dq_error_rate`: daily error-share monitor — per calendar day, the
    * fraction of events with `event_type = 'error'`, robust-flagged
    * against the day series' median/MAD (the [[volumeAnomaly]]
    * discipline: a deploy that spikes errors trips this without a
    * moving threshold, and median/MAD shrug off the spike days
    * themselves).
    *
    * Scale shape: ONE partial-aggregating groupBy to the day series;
    * the rate is snapped to an all-INTEGER 1e-5 grid (`(errs·100000)
    * DIV n`) BEFORE the median/MAD pass, so the percentile runs over
    * integers exactly like [[volumeAnomaly]]'s counts (exact percentile
    * is scale-safe here — days, not values, bound the group) and every
    * flag compare is engine-portable. Both robust stats are 1-row
    * broadcasts. */
  def errorRate(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("eday"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_errors"))
      .withColumn("rate_m", expr("(n_errors * 100000) DIV n_events"))
    val med = daily
      .agg(Gold.fixedRound(Gold.pct("rate_m", 0.5, exact = true), 4).as("med"))
    val mad = daily.crossJoin(broadcast(med))
      .agg(max(col("med")).as("med"),
        Gold.fixedRound(Gold.pct("abs(rate_m - med)", 0.5, exact = true), 4)
          .as("mad"))
    daily.crossJoin(broadcast(mad))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("eday").cast("int")).as("day"),
        col("n_events"), col("n_errors"),
        (col("rate_m").cast("double") / 100000).as("err_rate"),
        (abs(col("rate_m") - col("med")) > lit(VolumeRobustK) * col("mad"))
          .as("rate_anomaly"))
      .orderBy("day")
  }

  /** `dq_hour_coverage`: ingestion-gap detector — per calendar day,
    * how many of the 24 hours carried at least one event; a day with
    * silent hours means a feed outage or a partial partition (the
    * finer-grained companion of [[volumeAnomaly]], which only sees
    * whole-day totals). Boundary days flag by construction — exactly
    * the partial partitions a backfill needs to re-pull.
    *
    * Scale shape: the fact collapses to DISTINCT (day, hour) pairs in
    * one shuffle (≤ 24 rows/day); the day rollup is calendar-sized.
    * Pure integer epoch math. */
  def hourCoverage(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("eday"),
        hour(col("ts")).cast("long").as("hr"))
      .distinct()
      .groupBy("eday")
      .agg(count(lit(1)).as("n_active_hours"))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("eday").cast("int")).as("day"),
        col("n_active_hours"),
        (lit(24L) - col("n_active_hours")).as("n_silent_hours"),
        (col("n_active_hours") < 24).as("coverage_gap"))
      .orderBy("day")

  /** Benford expected first-digit fractions, log10(1+1/d), computed
    * ONCE here and interpolated as identical double literals into both
    * the Spark plan and the oracle SQL (shortest-repr round-trip, so
    * both engines parse the same bits — no libm call in either
    * plan). */
  private[operators] val BenfordExpected: Map[Int, Double] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d)).toMap

  /** `dq_benford`: first-digit distribution of order totals vs
    * Benford's law — the classic fabricated-amounts screen (organic
    * transaction amounts follow Benford closely; a generator, a unit
    * bug, or fraud shows up as a flat or spiked digit histogram). One
    * row per leading digit with observed vs expected share and the
    * absolute deviation.
    *
    * Scale shape: the digit is pure per-row string arithmetic on the
    * integer part; the histogram is a ≤9-cell partial-agg groupBy and
    * the total is an aggregate of the aggregate (metadata). */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.table(spark, dir, "orders")
      .select(expr(
        "substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS STRING), 1, 1)")
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_orders"))
    val tot = d.agg(sum(col("n_orders")).as("total"))
    val expected = (1 to 9).foldLeft(lit(0.0)) { (acc, dig) =>
      when(col("digit") === dig, lit(BenfordExpected(dig))).otherwise(acc)
    }
    d.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_orders"),
        (col("n_orders").cast("double") / col("total").cast("double"))
          .as("observed_frac"),
        expected.as("expected_frac"))
      .withColumn("abs_dev", abs(col("observed_frac") - col("expected_frac")))
      .orderBy("digit")
  }

  /** `dq_temporal_integrity`: cross-field time-order rules over the
    * order↔line relationship — lines shipped BEFORE their order was
    * placed, and orders placed after their own last shipment window
    * closes, per rule: violation count and rate. The referential
    * check's temporal sibling ([[referentialIntegrity]] catches broken
    * keys; this catches broken clocks — a timezone bug or a backfill
    * with swapped columns shows up here first).
    *
    * Scale shape: ONE orderkey-keyed fact⋈fact join (co-partitioned at
    * a bucketed warehouse) with all rule counters collapsing in a
    * single aggregate pass; integer day arithmetic. */
  def temporalIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.table(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), to_date(col("l_shipdate")).as("ship"))
      .join(Tables.table(spark, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("placed")),
        Seq("o_orderkey"))
    val agg = j.agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("ship") < col("placed"), 1L).otherwise(0L))
        .as("ship_before_order"),
      sum(when(datediff(col("ship"), col("placed")) > 365, 1L).otherwise(0L))
        .as("ship_over_year_late"))
    agg.select(
        lit("ship_before_order").as("rule"),
        col("ship_before_order").as("n_violations"), col("n_lines"))
      .unionAll(agg.select(lit("ship_over_year_late").as("rule"),
        col("ship_over_year_late").as("n_violations"), col("n_lines")))
      .withColumn("violation_rate",
        col("n_violations").cast("double") / col("n_lines").cast("double"))
      .orderBy("rule")
  }

  /** `dq_event_dups`: event-stream key-uniqueness check — total events
    * vs distinct event_ids in one pass (the events-table complement of
    * [[tableStatsQuery]], which covers the warehouse tables; duplicate
    * ids mean an at-least-once producer is replaying and downstream
    * counts are inflated). One row; on a real cluster this is the
    * check that decides whether `dropDuplicatesWithinWatermark` must
    * sit in the ingest path.
    *
    * Scale shape: a single aggregate pass — the exact distinct is one
    * shuffle of ids; the documented 100-TB swap is
    * `approx_count_distinct` (the [[tableStatsApprox]] precedent). */
  def eventDups(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_distinct_ids"))
      .select(col("n_events"), col("n_distinct_ids"),
        (col("n_events") - col("n_distinct_ids")).as("n_duplicates"),
        (col("n_events") === col("n_distinct_ids")).as("ids_unique"))

  /** The functional dependencies [[fdProfile]] screens — named lhs →
    * rhs pairs over the star schema and the retail sales view. The
    * catalog deliberately mixes dependencies that HOLD (primary-key →
    * attribute) with ones that don't: `transaction_id → product_id`
    * is violated by construction (the testdata carries duplicate
    * (orderkey, linenumber) pairs with different parts — see
    * Tables.sales's scaladoc), and `p_brand → p_type` is a
    * brand-spans-types business fact, not a key. A profiler that
    * reports zero everywhere is reading the wrong columns. */
  private val FdCatalog: Seq[(String, String, String, String)] = Seq(
    // (fd name, source, lhs col, rhs col); source "sales" = retail view
    ("customer.c_custkey->c_mktsegment", "customer", "c_custkey", "c_mktsegment"),
    ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
    ("sales.transaction_id->customer_id", "sales", "transaction_id", "customer_id"),
    ("sales.transaction_id->product_id", "sales", "transaction_id", "product_id"),
    ("supplier.s_suppkey->s_nationkey", "supplier", "s_suppkey", "s_nationkey"))

  /** `dq_fd_profile`: functional-dependency violation profile — for
    * each declared lhs → rhs dependency: distinct lhs keys, keys bound
    * to MORE than one rhs value (the violations), the worst key's
    * variant count, and the violation rate. The dependency screen a
    * warehouse runs before trusting a column as a join/dedup key —
    * data_quality.py:19-110 checks nulls/dupes/rules per table but
    * never cross-column consistency; this closes that class.
    *
    * Scale shape: per dependency, ONE two-phase aggregate — groupBy
    * lhs with an exact countDistinct(rhs) (partial map-side combine),
    * then a 1-row rollup; the per-FD frames union to a catalog-sized
    * result. No driver loops over data, no collects. */
  def fdProfile(spark: SparkSession, dir: String): DataFrame =
    fdProfileImpl(spark, dir, exact = true)

  /** The 100-TB twin of [[fdProfile]]: `approx_count_distinct`
    * (HyperLogLog++) for the per-key rhs cardinality — O(1) mergeable
    * state per key instead of an exact distinct-set shuffle. Spark's
    * HLL++ has no sparse-exact mode, so even tiny per-key
    * cardinalities carry sketch error (measured at sf0.001: 1156 vs
    * 1158 violating keys, ~0.2%); the spec asserts per-dependency
    * tolerance, with single-valued keys never inflating past 1 (a
    * one-register sketch estimates 1), so violation-FREE dependencies
    * stay exactly clean. The exact path stays the driver-checked
    * oracle. */
  def fdProfileApprox(spark: SparkSession, dir: String): DataFrame =
    fdProfileImpl(spark, dir, exact = false)

  private def fdProfileImpl(spark: SparkSession, dir: String,
      exact: Boolean): DataFrame = {
    def kd(rhs: String): Column =
      (if (exact) countDistinct(col(rhs))
       else approx_count_distinct(col(rhs))).as(s"k_$rhs")
    def rollup(name: String, grouped: DataFrame, rhs: String): DataFrame =
      grouped.agg(count(lit(1)).as("n_keys"),
          sum(when(col(s"k_$rhs") > 1, 1L).otherwise(0L)).as("n_violations"),
          max(col(s"k_$rhs")).as("max_variants"))
        .select(lit(name).as("fd"), col("n_keys"), col("n_violations"),
          col("max_variants"),
          (col("n_violations").cast("double") / col("n_keys").cast("double"))
            .as("violation_rate"))
    // r15: FDs sharing (source, lhs) fold into ONE grouped aggregate
    // with a distinct-count per rhs (one pass over the source instead
    // of one per dependency — both sales FDs key on transaction_id, so
    // the fact⋈orders join runs once, not twice). Per-FD rollups read
    // the shared checkpointed key table; values are unchanged (each
    // countDistinct is the same per-key statistic as before).
    FdCatalog.groupBy { case (_, src, lhs, _) => (src, lhs) }.toSeq
      .sortBy(_._2.head._1)
      .flatMap { case ((src, lhs), fds) =>
        val df = if (src == "sales") Tables.sales(spark, dir)
                 else Tables.table(spark, dir, src)
        val ks = fds.map(_._4).distinct.map(kd)
        val grouped = df.groupBy(col(lhs)).agg(ks.head, ks.tail: _*)
        val shared =
          if (fds.size > 1) grouped.localCheckpoint(false) else grouped
        fds.map { case (name, _, _, rhs) => rollup(name, shared, rhs) }
      }.reduce(_ unionAll _).orderBy("fd")
  }
}
