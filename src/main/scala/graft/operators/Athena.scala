package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The reference's user-facing analytics queries
  * (scripts/athena_queries.py:76-122), composed over the Gold outputs.
  *
  * Scale design: these run over the (small) gold aggregates, so the only
  * heavy work is the upstream gold plan. The scalar subquery in
  * `product_analysis` (MAX(times_sold)) is a 1-row aggregate joined back
  * with a broadcast — a BroadcastNestedLoopJoin of one row, never a
  * cartesian re-join or a second scan of the fact.
  */
object Athena {

  /** daily_revenue (athena_queries.py:76-85). */
  def dailyRevenueOf(daily: DataFrame): DataFrame =
    daily
      .where(col("revenue") > 0)
      .select(
        col("sale_date"), col("total_orders"), col("total_items"), col("revenue"),
        Gold.fixedRound(col("revenue") / col("total_items"), 2).as("avg_item_value"))
      .orderBy(col("sale_date").desc)
      .limit(10)

  def dailyRevenue(spark: SparkSession, dir: String): DataFrame =
    dailyRevenueOf(Gold.dailySalesSummary(spark, dir))

  /** top_performing_customers (athena_queries.py:87-98). */
  def topPerformingCustomersOf(topCustomers: DataFrame): DataFrame =
    topCustomers
      .select(
        col("customer_id"), col("total_spent"), col("order_count"), col("total_items"),
        Gold.fixedRound(col("total_spent") / col("order_count"), 2).as("avg_order_value"),
        col("city"), col("country"))
      .orderBy(col("total_spent").desc, col("customer_id"))
      .limit(5)

  def topPerformingCustomers(spark: SparkSession, dir: String): DataFrame =
    topPerformingCustomersOf(Gold.topCustomers(spark, dir))

  /** product_analysis (athena_queries.py:100-112): popularity score
    * against the global MAX(times_sold). The max is a 1-row aggregate
    * cross-joined back via `broadcast` — a BroadcastNestedLoopJoin of a
    * single row, so the product aggregate is never funneled through a
    * single-partition window exchange (which would bottleneck a wide
    * product dimension at 100 TB). The aggregate branch shares the same
    * gold subplan, so ReuseExchange keeps the fact scan single. */
  def productAnalysisOf(perf: DataFrame): DataFrame =
    perf
      .crossJoin(broadcast(perf.agg(max(col("times_sold")).as("max_sold"))))
      .select(
        col("product_id"), col("product_name"), col("category"),
        col("times_sold"), col("total_quantity"),
        Gold.fixedRound(col("avg_price"), 2).as("avg_price"),
        Gold.fixedRound(col("times_sold") * lit(1.0) / col("max_sold"), 2)
          .as("popularity_score"))
      .orderBy(col("times_sold").desc, col("product_id"))
      .limit(10)

  def productAnalysis(spark: SparkSession, dir: String): DataFrame =
    productAnalysisOf(Gold.productPerformance(spark, dir))

  /** revenue_by_category (athena_queries.py:114-122). */
  def revenueByCategoryOf(perf: DataFrame): DataFrame =
    perf
      .groupBy("category")
      .agg(
        sum(col("times_sold")).as("total_sales"),
        sum(col("total_quantity")).as("total_units"),
        Gold.fixedRound(Gold.moneySum(col("times_sold") * col("avg_price")), 2)
          .as("estimated_revenue"))
      .orderBy(col("estimated_revenue").desc, col("category"))

  def revenueByCategory(spark: SparkSession, dir: String): DataFrame =
    revenueByCategoryOf(Gold.productPerformance(spark, dir))

  /** 7-day rolling revenue over the daily summary. Deliberately NOT a
    * global `Window.partitionBy()` (a single-partition exchange): the
    * daily rollup is small by construction — one row per calendar day
    * regardless of fact size — so the window is a broadcast range
    * self-join + partial aggregate, which stays parallel at any scale. */
  def rollingRevenueOf(daily: DataFrame): DataFrame = {
    val b = daily.select(col("sale_date").as("b_date"), col("revenue").as("b_rev"))
    daily.select("sale_date", "revenue")
      .join(broadcast(b),
        col("b_date") >= date_sub(col("sale_date"), 6) &&
          col("b_date") <= col("sale_date"))
      .groupBy("sale_date", "revenue")
      .agg(count(lit(1)).as("n_days"), Gold.moneySum(col("b_rev")).as("rev_7d_sum"))
      .select(col("sale_date"), col("revenue"), col("n_days"), col("rev_7d_sum"),
        (col("rev_7d_sum") / col("n_days")).as("rev_7d_avg"))
      .orderBy("sale_date")
  }

  def rollingRevenue(spark: SparkSession, dir: String): DataFrame =
    rollingRevenueOf(Gold.dailySalesSummary(spark, dir))

  val TopPerCategory = 3

  /** Top products per category by sales count — per-group top-k through
    * the bounded-heap aggregate (map-side partial heaps; a per-category
    * window row_number would sort every product in the category). */
  def topProductsPerCategoryOf(perf: DataFrame): DataFrame = {
    perf.where(col("category").isNotNull)
      .groupBy("category")
      .agg(call_function("graft_top_k_by_score",
        col("times_sold").cast("double"), col("product_id"),
        lit(TopPerCategory)).as("topk"))
      .select(col("category"), posexplode(col("topk")))
      .select(col("category"), (col("pos") + 1).cast("int").as("rn"),
        col("col.id").as("product_id"),
        col("col.score").cast("bigint").as("times_sold"))
      .orderBy("category", "rn")
  }

  def topProductsPerCategory(spark: SparkSession, dir: String): DataFrame =
    topProductsPerCategoryOf(Gold.productPerformance(spark, dir))

  /** Category × month revenue pivot — `groupBy().pivot()` with a FIXED
    * value list (1..12), so Spark never runs the extra distinct-values
    * job and the plan is a single partial-aggregating groupBy with 12
    * money-sum cells. */
  def categoryMonthPivotOf(sales: DataFrame, products: DataFrame): DataFrame = {
    val s = sales
      .join(broadcast(products.select("product_id", "category")), Seq("product_id"))
      .where(col("category").isNotNull)
      .select(col("category"), month(to_date(col("sale_ts"))).as("mth"),
        (col("unit_price") * col("quantity")).as("rev"))
    val piv = s.groupBy("category")
      .pivot("mth", (1 to 12).map(m => m: Integer))
      .agg(Gold.moneySum(col("rev")))
    (1 to 12).foldLeft(piv) { (df, m) =>
      df.withColumnRenamed(m.toString, f"m$m%02d")
    }.orderBy("category")
  }

  def categoryMonthPivot(spark: SparkSession, dir: String): DataFrame =
    categoryMonthPivotOf(Tables.sales(spark, dir), Tables.products(spark, dir))

  /** Category × year ROLLUP: per-(category, year) revenue plus per-
    * category subtotals and a grand total in ONE aggregate pass —
    * Catalyst plans `rollup` as a single Expand + partial-aggregating
    * groupBy, so the fact is scanned once where three separate groupBys
    * would scan it three times at 100 TB. Null grouping labels are
    * replaced with sentinels so the output ordering is total and the
    * compare engine-portable. */
  def salesRollupOf(sales: DataFrame, products: DataFrame): DataFrame = {
    val s = sales
      .join(broadcast(products.select("product_id", "category")), Seq("product_id"))
      .where(col("category").isNotNull)
      .select(col("category"), year(col("sale_ts")).as("yr"),
        (col("unit_price") * col("quantity")).as("rev"))
    // the ROLLUP goes through SQL: Dataset.rollup over a join trips
    // Spark's ambiguous-self-join check on the Expand's duplicated
    // grouping attributes; the SQL path plans the identical single
    // Expand + partial aggregate without the Dataset-id bookkeeping.
    // Per-call unique view name (dropped after eager analysis) so
    // concurrent/nested uses in one session can never clobber each
    // other; subtotal rows are detected with GROUPING(), not value
    // nullness, so a data-borne NULL can never masquerade as a subtotal
    // (the '(all)'/-1 labels stay — the oracle compares on them and the
    // category domain excludes them).
    val view = s"sales_rollup_input_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    s.createOrReplaceTempView(view)
    try s.sparkSession.sql(
      s"""SELECT CASE WHEN GROUPING(category) = 1 THEN '(all)' ELSE category END
         |         AS category,
         |       CASE WHEN GROUPING(yr) = 1 THEN -1 ELSE COALESCE(yr, -1) END
         |         AS sale_year,
         |       COUNT(1) AS n_sales,
         |       ${Gold.moneySumSql("rev")} AS revenue
         |FROM $view
         |GROUP BY ROLLUP (category, yr)
         |ORDER BY 1, 2""".stripMargin)
    finally s.sparkSession.catalog.dropTempView(view)
  }

  def salesRollup(spark: SparkSession, dir: String): DataFrame =
    salesRollupOf(Tables.sales(spark, dir), Tables.products(spark, dir))

  /** `ath_month_unpivot`: melt the category × month pivot back to long
    * form `(category, mth, revenue)` — the wide→long inverse every BI
    * export pipeline needs (Spark's native `unpivot`/`melt`; the
    * Expand it plans is map-side, no shuffle beyond the pivot's own).
    * Null cells (months with no sales) are dropped, matching SQL
    * UNPIVOT's default EXCLUDE NULLS. */
  def monthUnpivot(spark: SparkSession, dir: String): DataFrame =
    categoryMonthPivot(spark, dir)
      .unpivot(Array(col("category")),
        (1 to 12).map(m => col(f"m$m%02d")).toArray, "mth", "revenue")
      .where(col("revenue").isNotNull)
      .orderBy("category", "mth")

  /** `ath_yoy_growth`: category revenue by year with year-over-year
    * growth — the trend readout a BI layer serves next to
    * [[salesRollup]]'s level totals ("is this category growing?").
    *
    * Scale shape: ONE partial-aggregating groupBy of the fact on
    * (category, year) — everything after runs on category×year rows
    * (metadata); the prior-year lookup is a broadcast self-join of
    * that aggregate on (category, year−1), never a window (a lag
    * window would work too, but the join keeps the tiny table
    * broadcast-shaped and shuffle-free). Revenue is fixed-point; the
    * growth ratio divides two exact fixed-point doubles in identical
    * IEEE ops both engines, NULL for a category's first year. */
  def yoyGrowth(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.products(spark, dir).select("product_id", "category")
    val cy = Tables.sales(spark, dir)
      .join(broadcast(p), "product_id")
      .groupBy(col("category"), year(col("sale_ts")).as("sale_year"))
      .agg(count(lit(1)).as("n_sales"),
        sum(floor(col("unit_price") * col("quantity") * lit(10000))
          .cast(org.apache.spark.sql.types.DecimalType(28, 0))).as("rev_i"))
      // checkpoint the category×year-sized cells: the lag self-join
      // otherwise re-runs the fact join+aggregate for its prev side
      .localCheckpoint()
    val prev = cy.select(col("category").as("p_cat"),
      (col("sale_year") + 1).as("p_year"), col("rev_i").as("prev_i"))
    cy.join(broadcast(prev),
        col("category") === col("p_cat") && col("sale_year") === col("p_year"),
        "left")
      .select(col("category"), col("sale_year"), col("n_sales"),
        (col("rev_i").cast("double") / 10000).as("revenue"),
        (col("prev_i").cast("double") / 10000).as("prev_revenue"),
        ((col("rev_i").cast("double") - col("prev_i").cast("double"))
          / col("prev_i").cast("double")).as("yoy_growth"))
      .orderBy("category", "sale_year")
  }

  /** Days after the order date past which the last line shipment counts
    * as late for [[priorityFulfillment]]. */
  val LateShipDays = 90

  /** `ath_priority_fulfillment`: per order-priority class, how many
    * orders shipped their last line more than [[LateShipDays]] days
    * after the order date — the ops-review SLA view (does paying for
    * "1-URGENT" actually buy faster fulfillment?), the analytics twin
    * of TPC-H Q4's priority-checking shape on this schema.
    *
    * Scale shape: the line fact collapses to one `MAX(l_shipdate)` row
    * per order in a partial-aggregating groupBy, then joins the order
    * header on the SAME key it just aggregated on — co-partitioned, no
    * second fact shuffle at a bucketed warehouse. The lateness flag is
    * integer day arithmetic; the priority rollup is metadata-sized
    * (five classes). */
  def priorityFulfillment(spark: SparkSession, dir: String): DataFrame = {
    val lastShip = Tables.table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(max(col("l_shipdate")).as("last_ship"), count(lit(1)).as("n_lines"))
    Tables.table(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
      .join(lastShip, Seq("o_orderkey"), "left")
      // an order with no line at all never shipped — the worst lateness
      .withColumn("late", coalesce(
        datediff(col("last_ship"), col("o_orderdate")) > LateShipDays,
        lit(true)))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce(col("n_lines"), lit(0L))).as("n_lines"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
      .withColumn("late_rate",
        col("n_late").cast("double") / col("n_orders").cast("double"))
      .orderBy("o_orderpriority")
  }

  /** `ath_pricing_summary`: the canonical line-status pricing rollup
    * (the TPC-H Q1 shape on this schema): per (return flag, line
    * status), quantity/price/discounted/charged totals, averages and
    * the line count — the one-glance billing reconciliation view.
    *
    * Scale shape: ONE partial-aggregating groupBy over a 6-cell key
    * space — every measure collapses map-side, the shuffle moves ≤
    * 6×cores rows. All money totals are independent fixed-point sums
    * ([[Gold.moneySum]]); averages divide two exact aggregates in one
    * IEEE op each. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(floor(col("l_quantity"))).as("sum_qty"),
        Gold.moneySum(col("l_extendedprice")).as("sum_base_price"),
        Gold.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        Gold.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty",
        col("sum_qty").cast("double") / col("count_order").cast("double"))
      .withColumn("avg_price", col("sum_base_price") / col("count_order").cast("double"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---- DuckDB oracles ----

  private val goldCtes =
    s"""${Tables.salesCte}, ${Tables.customersCte}, ${Tables.productsCte},
       |daily AS (
       |  SELECT CAST(sale_ts AS DATE) AS sale_date,
       |         COUNT(transaction_id) AS total_orders,
       |         CAST(SUM(quantity) AS BIGINT) AS total_items,
       |         CAST(SUM(CAST(FLOOR((unit_price*quantity)*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000 AS revenue
       |  FROM sales WHERE CAST(sale_ts AS DATE) IS NOT NULL GROUP BY 1),
       |cust_spend AS (
       |  SELECT customer_id,
       |         COUNT(transaction_id) AS order_count,
       |         CAST(SUM(quantity) AS BIGINT) AS total_items,
       |         CAST(SUM(CAST(FLOOR((unit_price*quantity)*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000 AS total_spent
       |  FROM sales GROUP BY 1),
       |top_cust AS (
       |  SELECT s.*, c.city, c.country
       |  FROM cust_spend s LEFT JOIN customers c USING (customer_id)
       |  ORDER BY s.total_spent DESC, s.customer_id LIMIT 10),
       |prod_perf AS (
       |  SELECT f.product_id,
       |         f.times_sold, f.total_quantity, f.avg_price,
       |         p.product_name, p.category
       |  FROM (SELECT product_id,
       |               COUNT(transaction_id) AS times_sold,
       |               CAST(SUM(quantity) AS BIGINT) AS total_quantity,
       |               CAST(SUM(CAST(FLOOR(unit_price*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000
       |                 / COUNT(transaction_id) AS avg_price
       |        FROM sales GROUP BY 1) f
       |  LEFT JOIN products p USING (product_id))""".stripMargin

  /** `ath_store_credit`: store financial-health scorecard per country
    * — store count, stores in negative account balance, fixed-point
    * balance total, revenue attributed through the sales fact (stores
    * with no sales count at zero, not dropped) and revenue per store.
    * The credit-exposure vs volume view a finance team reads next to
    * `gold_store_performance`; surfaces countries whose fulfilment
    * base is financially thin relative to the revenue routed there.
    *
    * Scale shape: revenue pre-aggregates per store in fixed-point
    * integers BEFORE the dim join (partial map-side agg on the fact;
    * the store-level decimal survives to the country rollup, so no
    * double ever re-enters a sum), then a dim-sized left join and a
    * country-catalog groupBy. */
  def storeCredit(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 0)
    val rev = Tables.sales(spark, dir)
      .groupBy("store_id")
      .agg(sum(floor(col("unit_price") * col("quantity") * lit(10000))
          .cast(dec)).as("rev_i"),
        count(lit(1)).as("n_sales"))
    val s = Tables.table(spark, dir, "supplier")
    val n = Tables.table(spark, dir, "nation").select("n_nationkey", "n_name")
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .select(col("s_suppkey").as("store_id"), col("n_name").as("country"),
        col("s_acctbal"))
      .join(rev, Seq("store_id"), "left")
      .groupBy("country")
      .agg(count(lit(1)).as("n_stores"),
        sum(when(col("s_acctbal") < 0, 1L).otherwise(0L)).as("n_neg_balance"),
        Gold.moneySum(col("s_acctbal")).as("acctbal_total"),
        sum(coalesce(col("rev_i"), lit(0).cast(dec))).as("rev_ii"),
        sum(coalesce(col("n_sales"), lit(0L))).as("n_sales"))
      .select(col("country"), col("n_stores"), col("n_neg_balance"),
        col("acctbal_total"),
        (col("rev_ii").cast("double") / 10000).as("revenue_total"),
        col("n_sales"),
        ((col("rev_ii").cast("double") / 10000)
          / col("n_stores").cast("double")).as("rev_per_store"))
      .orderBy("country")
  }

  private val pivotOracleSql: String = {
    val cells = (1 to 12).map { m =>
      s"""CAST(SUM(CASE WHEN mth = $m
         |  THEN CAST(FLOOR(rev*10000) AS DECIMAL(28,0)) END) AS DOUBLE)/10000
         |  AS m${"%02d".format(m)}""".stripMargin
    }.mkString(",\n")
    s"""WITH $goldCtes,
       |sm AS (SELECT p.category, month(CAST(sale_ts AS DATE)) AS mth,
       |              unit_price*quantity AS rev
       |       FROM sales JOIN products p USING (product_id)
       |       WHERE p.category IS NOT NULL)
       |SELECT category,
       |$cells
       |FROM sm GROUP BY category ORDER BY category""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ath_store_credit", storeCredit,
      s"""WITH ${Tables.salesCte},
         |rev AS (SELECT store_id,
         |               SUM(CAST(FLOOR(unit_price*quantity*10000)
         |                   AS DECIMAL(28,0))) AS rev_i,
         |               COUNT(*) AS n_sales
         |        FROM sales GROUP BY 1),
         |st AS (SELECT s_suppkey AS store_id, n_name AS country, s_acctbal
         |       FROM supplier JOIN nation ON s_nationkey = n_nationkey)
         |SELECT country, COUNT(*) AS n_stores,
         |       CAST(SUM(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_neg_balance,
         |       ${Gold.moneySumSql("s_acctbal")} AS acctbal_total,
         |       CAST(SUM(COALESCE(rev_i, 0)) AS DOUBLE)/10000 AS revenue_total,
         |       CAST(SUM(COALESCE(n_sales, 0)) AS BIGINT) AS n_sales,
         |       CAST(SUM(COALESCE(rev_i, 0)) AS DOUBLE)/10000
         |         / CAST(COUNT(*) AS DOUBLE) AS rev_per_store
         |FROM st LEFT JOIN rev USING (store_id)
         |GROUP BY 1 ORDER BY country""".stripMargin),
    QueryDef("ath_yoy_growth", yoyGrowth,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |cy AS (
         |  SELECT p.category, year(s.sale_ts) AS sale_year, COUNT(*) AS n_sales,
         |         SUM(CAST(FLOOR(s.unit_price*s.quantity*10000) AS DECIMAL(28,0)))
         |           AS rev_i
         |  FROM sales s JOIN products p USING (product_id)
         |  GROUP BY 1, 2)
         |SELECT c.category, c.sale_year, c.n_sales,
         |       CAST(c.rev_i AS DOUBLE)/10000 AS revenue,
         |       CAST(pr.rev_i AS DOUBLE)/10000 AS prev_revenue,
         |       (CAST(c.rev_i AS DOUBLE) - CAST(pr.rev_i AS DOUBLE))
         |         / CAST(pr.rev_i AS DOUBLE) AS yoy_growth
         |FROM cy c LEFT JOIN cy pr
         |  ON c.category = pr.category AND c.sale_year = pr.sale_year + 1
         |ORDER BY c.category, c.sale_year""".stripMargin),
    QueryDef("ath_daily_revenue", dailyRevenue,
      s"""WITH $goldCtes
         |SELECT sale_date, total_orders, total_items, revenue,
         |       ${Gold.fixedRoundSql("revenue / total_items", 2)} AS avg_item_value
         |FROM daily WHERE revenue > 0
         |ORDER BY sale_date DESC LIMIT 10""".stripMargin),
    QueryDef("ath_top_customers", topPerformingCustomers,
      s"""WITH $goldCtes
         |SELECT customer_id, total_spent, order_count, total_items,
         |       ${Gold.fixedRoundSql("total_spent / order_count", 2)} AS avg_order_value,
         |       city, country
         |FROM top_cust
         |ORDER BY total_spent DESC, customer_id LIMIT 5""".stripMargin),
    QueryDef("ath_product_analysis", productAnalysis,
      s"""WITH $goldCtes
         |SELECT product_id, product_name, category, times_sold, total_quantity,
         |       ${Gold.fixedRoundSql("avg_price", 2)} AS avg_price,
         |       ${Gold.fixedRoundSql("(times_sold * 1.0) / (SELECT MAX(times_sold) FROM prod_perf)", 2)}
         |         AS popularity_score
         |FROM prod_perf
         |ORDER BY times_sold DESC, product_id LIMIT 10""".stripMargin),
    QueryDef("ath_rolling_revenue", rollingRevenue,
      s"""WITH $goldCtes
         |SELECT a.sale_date, a.revenue, COUNT(*) AS n_days,
         |       ${Gold.moneySumSql("b.revenue")} AS rev_7d_sum,
         |       ${Gold.moneySumSql("b.revenue")}/COUNT(*) AS rev_7d_avg
         |FROM daily a JOIN daily b
         |  ON b.sale_date BETWEEN a.sale_date - 6 AND a.sale_date
         |GROUP BY a.sale_date, a.revenue ORDER BY a.sale_date""".stripMargin),
    QueryDef("ath_top_products_per_category", topProductsPerCategory,
      s"""WITH $goldCtes,
         |r AS (SELECT category, product_id, times_sold,
         |             ROW_NUMBER() OVER (PARTITION BY category
         |               ORDER BY times_sold DESC, product_id) AS rn
         |      FROM prod_perf WHERE category IS NOT NULL)
         |SELECT category, CAST(rn AS INT) AS rn, product_id,
         |       CAST(times_sold AS BIGINT) AS times_sold
         |FROM r WHERE rn <= $TopPerCategory ORDER BY category, rn""".stripMargin),
    QueryDef("ath_category_month_pivot", categoryMonthPivot, pivotOracleSql),
    QueryDef("ath_month_unpivot", monthUnpivot,
      s"""SELECT category, mth, revenue
         |FROM ($pivotOracleSql)
         |UNPIVOT (revenue FOR mth IN
         |  (${(1 to 12).map(m => f"m$m%02d").mkString(", ")}))
         |ORDER BY category, mth""".stripMargin),
    QueryDef("ath_revenue_by_category", revenueByCategory,
      s"""WITH $goldCtes
         |SELECT category,
         |       CAST(SUM(times_sold) AS BIGINT) AS total_sales,
         |       CAST(SUM(total_quantity) AS BIGINT) AS total_units,
         |       ${Gold.fixedRoundSql(Gold.moneySumSql("times_sold*avg_price"), 2)}
         |         AS estimated_revenue
         |FROM prod_perf GROUP BY category
         |ORDER BY estimated_revenue DESC, category""".stripMargin),
    QueryDef("ath_pricing_summary", pricingSummary,
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         |       ${Gold.moneySumSql("l_extendedprice")} AS sum_base_price,
         |       ${Gold.moneySumSql("l_extendedprice*(1.0-l_discount)")} AS sum_disc_price,
         |       ${Gold.moneySumSql("l_extendedprice*(1.0-l_discount)*(1.0+l_tax)")}
         |         AS sum_charge,
         |       COUNT(*) AS count_order,
         |       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
         |       ${Gold.moneySumSql("l_extendedprice")}
         |         / CAST(COUNT(*) AS DOUBLE) AS avg_price
         |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("ath_priority_fulfillment", priorityFulfillment,
      s"""WITH ls AS (SELECT l_orderkey AS o_orderkey,
         |              MAX(l_shipdate) AS last_ship, COUNT(*) AS n_lines
         |            FROM lineitem GROUP BY 1),
         |j AS (SELECT o.o_orderpriority, COALESCE(ls.n_lines, 0) AS n_lines,
         |             CASE WHEN ls.last_ship IS NULL
         |                    OR date_diff('day', CAST(o.o_orderdate AS DATE),
         |                                 CAST(ls.last_ship AS DATE))
         |                       > $LateShipDays
         |                  THEN 1 ELSE 0 END AS late
         |      FROM orders o LEFT JOIN ls USING (o_orderkey))
         |SELECT o_orderpriority, COUNT(*) AS n_orders,
         |       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
         |       CAST(SUM(late) AS BIGINT) AS n_late,
         |       CAST(SUM(late) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS late_rate
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("ath_sales_rollup", salesRollup,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |sm AS (SELECT p.category, CAST(YEAR(sale_ts) AS INT) AS yr,
         |              unit_price*quantity AS rev
         |       FROM sales JOIN products p USING (product_id)
         |       WHERE p.category IS NOT NULL)
         |SELECT COALESCE(category, '(all)') AS category,
         |       COALESCE(yr, -1) AS sale_year,
         |       COUNT(*) AS n_sales,
         |       ${Gold.moneySumSql("rev")} AS revenue
         |FROM sm GROUP BY ROLLUP (category, yr)
         |ORDER BY category, sale_year""".stripMargin))
}
