package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Gold-layer business aggregations (reference: scripts/load.py:148-280).
  *
  * Scale design: each is a single partial-aggregating `groupBy().agg()`
  * (map-side combine before the shuffle); dimension joins are explicit
  * `broadcast()` so the fact never re-shuffles for a dim. Money sums use
  * fixed-point `moneySum` — exact and order-independent, so results are
  * reproducible under any partitioning (and match the DuckDB oracle
  * bit-for-bit).
  */
object Gold {

  /** Exact, merge-safe, engine-portable sum of a money/double expression:
    * fixed-point at 1e-4 (FLOOR is tie-free, unlike decimal-cast rounding,
    * so Spark and DuckDB agree bit-for-bit), summed as DECIMAL(28,0) so it
    * cannot overflow at 100 TB row counts, and order-independent. */
  def moneySum(c: Column): Column =
    (sum(floor(c * lit(10000)).cast(DecimalType(28, 0))).cast("double") / 10000.0)

  /** The same aggregate in DuckDB SQL. */
  def moneySumSql(expr: String): String =
    s"CAST(SUM(CAST(FLOOR(($expr)*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000"

  /** Engine-portable rounding of a non-negative double to `digits`
    * decimals: `FLOOR(x*10^d + 0.5)/10^d` in pure IEEE double arithmetic.
    * Spark's ROUND (BigDecimal HALF_UP on the shortest-decimal repr) and
    * DuckDB's ROUND (libm on the binary double) disagree on tie-adjacent
    * quotients; this formulation runs the identical float ops in both
    * engines, so results are bit-equal by construction. */
  def fixedRound(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits.toDouble)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** The same rounding in DuckDB SQL. */
  def fixedRoundSql(expr: String, digits: Int): String = {
    val p = math.pow(10, digits.toDouble).toLong
    s"FLOOR(($expr)*$p + 0.5)/$p"
  }

  /** Sketch resolution for the approx-percentile scale twins
    * ([[rfmSegmentsApprox]], `Events.valueQuantilesApprox` /
    * `winsorizeApprox` / `robustAnomaliesApprox`): rank error ≤
    * n/accuracy with O(accuracy · log n) MERGEABLE state per group.
    * Spark's default; at 10⁴ the p50 of 10¹⁰ rows lands within
    * ±10⁻⁴ of the true rank. */
  val PctAccuracy = 10000

  /** The percentile aggregate, selected by strategy. `exact = true` is
    * the oracle path: Spark's sort-based `percentile`, which buffers a
    * value→count map per group — fine up to sandbox×100, dead at 10¹⁰
    * distinct doubles in one group's final merge. `exact = false` is
    * the 100-TB path: `approx_percentile` (Greenwald-Khanna summary,
    * bounded memory, partial-merges map-side) — IDENTICAL plan shape,
    * so every operator built on this swaps strategy without changing
    * its shuffle structure. Callers fixedRound the result either way. */
  def pct(valueSql: String, q: Double, exact: Boolean): Column =
    if (exact) expr(s"percentile($valueSql, $q)")
    else expr(s"approx_percentile($valueSql, $q, $PctAccuracy)")

  /** Daily sales summary (load.py:148-186): per sale date, order count,
    * item count, revenue. */
  def dailySalesSummaryOf(sales: DataFrame): DataFrame =
    sales
      .withColumn("sale_date", to_date(col("sale_ts")))
      .where(col("sale_date").isNotNull)
      .groupBy("sale_date")
      .agg(
        count(col("transaction_id")).as("total_orders"),
        sum(col("quantity")).as("total_items"),
        moneySum(col("unit_price") * col("quantity")).as("revenue"))
      .orderBy("sale_date")

  def dailySalesSummary(spark: SparkSession, dir: String): DataFrame =
    dailySalesSummaryOf(Tables.sales(spark, dir))

  /** Top customers by total spend (load.py:190-221): top 10, left-joined
    * to the customer dimension (broadcast). */
  def topCustomersOf(sales: DataFrame, customers: DataFrame): DataFrame = {
    val spend = sales
      .groupBy("customer_id")
      .agg(
        count(col("transaction_id")).as("order_count"),
        sum(col("quantity")).as("total_items"),
        moneySum(col("unit_price") * col("quantity")).as("total_spent"))
    spend
      .join(broadcast(customers), Seq("customer_id"), "left")
      .orderBy(col("total_spent").desc, col("customer_id"))
      .limit(10)
  }

  def topCustomers(spark: SparkSession, dir: String): DataFrame =
    topCustomersOf(Tables.sales(spark, dir), Tables.customers(spark, dir))

  /** Product performance (load.py:226-253): per product, times sold,
    * quantity, avg unit price; joined to the product dimension. */
  def productPerformanceOf(sales: DataFrame, products: DataFrame): DataFrame = {
    val perf = sales
      .groupBy("product_id")
      .agg(
        count(col("transaction_id")).as("times_sold"),
        sum(col("quantity")).as("total_quantity"),
        (moneySum(col("unit_price"))
          / count(col("transaction_id"))).as("avg_price"))
    perf
      .join(broadcast(products), Seq("product_id"), "left")
      .orderBy(col("times_sold").desc, col("product_id"))
  }

  def productPerformance(spark: SparkSession, dir: String): DataFrame =
    productPerformanceOf(Tables.sales(spark, dir), Tables.products(spark, dir))

  /** Store performance (load.py:256-280): per store, transactions, items,
    * revenue; joined to the store dimension. */
  def storePerformanceOf(sales: DataFrame, stores: DataFrame): DataFrame = {
    val perf = sales
      .groupBy("store_id")
      .agg(
        count(col("transaction_id")).as("total_transactions"),
        sum(col("quantity")).as("total_items"),
        moneySum(col("unit_price") * col("quantity")).as("total_revenue"))
    perf
      .join(broadcast(stores), Seq("store_id"), "left")
      .orderBy(col("store_id"))
  }

  def storePerformance(spark: SparkSession, dir: String): DataFrame =
    storePerformanceOf(Tables.sales(spark, dir), Tables.stores(spark, dir))

  /** The `inventory` mapped table as a contract surface (SURVEY §3):
    * the availability ledger per (store, product). */
  def inventoryView(spark: SparkSession, dir: String): DataFrame =
    Tables.inventory(spark, dir).orderBy("store_id", "product_id")

  /** Per-manager revenue rollup through the `sales_managers` mapped
    * dimension: sales ⋈ stores (broadcast) ⋈ managers-by-country
    * (broadcast) → ONE partial-aggregating groupBy of the fact. The
    * fixed-point money sum runs directly over fact rows (never a
    * double-sum of per-store subtotals — that would re-introduce
    * addition-order drift). */
  def managerRevenueOf(sales: DataFrame, stores: DataFrame,
      managers: DataFrame): DataFrame =
    sales
      .join(broadcast(stores.select("store_id", "country")), Seq("store_id"))
      .join(broadcast(managers), Seq("country"))
      .groupBy("manager_id", "manager_name", "region")
      .agg(
        countDistinct(col("store_id")).as("n_stores"),
        count(col("transaction_id")).as("n_sales"),
        moneySum(col("unit_price") * col("quantity")).as("revenue"))
      .orderBy(col("revenue").desc, col("manager_id"))

  def managerRevenue(spark: SparkSession, dir: String): DataFrame =
    managerRevenueOf(Tables.sales(spark, dir), Tables.stores(spark, dir),
      Tables.salesManagers(spark, dir))

  /** `gold_rfm`: recency/frequency/monetary segmentation — every
    * customer scored 1–5 on each axis against the population's
    * p20/p40/p60/p80 boundaries and bucketed into the classic segments
    * (champion/loyal/at_risk/hibernating/regular).
    *
    * Scale design: NTILE(5) over all customers would be a single-
    * partition window; instead the quintile EDGES are one 12-value
    * aggregate (the [[pct]] strategy: exact percentile on this oracle
    * path, `approx_percentile` in [[rfmSegmentsApprox]] — same plan)
    * broadcast back, and each score is four
    * comparisons — fully map-side, deterministic, and rank-free.
    * Boundaries go through [[fixedRound]] so interpolation ulps can
    * never flip a threshold between engines; metric values are exact
    * integers / fixed-point money. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmSegmentsImpl(spark, dir, exactPct = true)

  /** The 100-TB twin: identical plan shape with the quintile edges from
    * `approx_percentile` ([[pct]]) — the 12-value bounds aggregate
    * becomes a mergeable sketch instead of a value-buffered exact
    * percentile whose final merge holds every distinct metric value of
    * the population on one task. Tolerance-vs-exact asserted in
    * PercentileScaleSpec; the exact path stays the oracle. */
  def rfmSegmentsApprox(spark: SparkSession, dir: String): DataFrame =
    rfmSegmentsImpl(spark, dir, exactPct = false)

  private def rfmSegmentsImpl(spark: SparkSession, dir: String,
      exactPct: Boolean): DataFrame = {
    val per = Tables.sales(spark, dir)
      .withColumn("sale_date", to_date(col("sale_ts")))
      .groupBy("customer_id")
      .agg(max(col("sale_date")).as("last_date"),
        count(col("transaction_id")).as("frequency"),
        moneySum(col("unit_price") * col("quantity")).as("monetary"))
    val gmax = per.agg(max("last_date").as("gmax"))
    val met = per.crossJoin(broadcast(gmax))
      .select(col("customer_id"),
        datediff(col("gmax"), col("last_date")).cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
    val qs = Seq(0.2, 0.4, 0.6, 0.8)
    val boundCols =
      qs.map(q => fixedRound(pct("recency_days", q, exactPct), 4)
        .as(s"r${(q * 100).toInt}")) ++
      qs.map(q => fixedRound(pct("frequency", q, exactPct), 4)
        .as(s"f${(q * 100).toInt}")) ++
      qs.map(q => fixedRound(pct("monetary", q, exactPct), 4)
        .as(s"m${(q * 100).toInt}"))
    val bounds = met.agg(boundCols.head, boundCols.tail: _*)
    def score(metric: Column, prefix: String, better: String): Column = {
      val cmp: (Column, Column) => Column =
        if (better == "low") (m, b) => m < b else (m, b) => m > b
      qs.map(q => when(cmp(metric, col(s"$prefix${(q * 100).toInt}")), 1)
        .otherwise(0)).reduce(_ + _) + lit(1)
    }
    val r = score(col("recency_days"), "r", "low")
    val f = score(col("frequency"), "f", "high")
    val m = score(col("monetary"), "m", "high")
    met.crossJoin(broadcast(bounds))
      .select(col("customer_id"), col("recency_days"), col("frequency"),
        col("monetary"),
        r.cast("int").as("r_score"), f.cast("int").as("f_score"),
        m.cast("int").as("m_score"),
        when(r >= 4 && f >= 4 && m >= 4, "champion")
          .when(r >= 3 && f >= 3, "loyal")
          .when(r <= 2 && f >= 3, "at_risk")
          .when(r <= 2 && f <= 2, "hibernating")
          .otherwise("regular").as("segment"))
      .orderBy("customer_id")
  }

  // ---- market-basket affinity --------------------------------------------

  /** `gold_basket_affinity`: brand-pair co-purchase matrix with support
    * and lift — the association-rule headline ("customers who buy brand
    * A also buy brand B") over order-level baskets. Basket = order
    * (`transaction_id DIV 10` recovers the order key from the mapped
    * fact); item = product sku (brand), so the matrix is bounded by the
    * brand catalog (~hundreds of rows), not the product catalog.
    *
    * Scale shape: ONE distinct-shuffle to (basket, sku), then a basket-
    * keyed self-join whose per-key multiplicity is the basket's DISTINCT
    * BRAND count (≤ line count, ≤ 7·… per order — baskets are small by
    * construction in retail facts; a pathological mega-basket would cap
    * at catalog², still metadata). Brand marginals and the basket total
    * ride 1-row/^catalog-row broadcasts. lift/support divide exact
    * BIGINT counts cast to double (one fp op each — engine-portable).
    *
    * The brand-pair matrix (catalog²-bounded) is a session-cached
    * [[ArtifactCache]] artifact: the association table is a gold-layer
    * product any retail warehouse materializes once per load, and
    * [[alsoBought]]'s per-sku top-k recommendation view reads the same
    * matrix — two consumers, one derivation. */
  def basketAffinity(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "gold_basket_affinity")(
        buildBasketAffinity(spark, dir))
      .orderBy("sku_a", "sku_b")

  private def buildBasketAffinity(spark: SparkSession, dir: String): DataFrame = {
    val sku = Tables.products(spark, dir).select(col("product_id"), col("sku"))
    val b = Tables.sales(spark, dir)
      .select(expr("transaction_id DIV 10").as("basket_id"), col("product_id"))
      .join(broadcast(sku), Seq("product_id"))
      .select("basket_id", "sku").distinct()
    val nBaskets = b.agg(count_distinct(col("basket_id")).as("n_baskets"))
    val per = b.groupBy("sku").agg(count(lit(1)).as("n_sku"))
    val pairs = b.join(
        b.select(col("basket_id"), col("sku").as("sku_b")), Seq("basket_id"))
      .where(col("sku") < col("sku_b"))
      .groupBy(col("sku").as("sku_a"), col("sku_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(per.select(col("sku").as("sku_a"), col("n_sku").as("n_a"))),
        Seq("sku_a"))
      .join(broadcast(per.select(col("sku").as("sku_b"), col("n_sku").as("n_b"))),
        Seq("sku_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("sku_a"), col("sku_b"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast("double") / col("n_baskets").cast("double"))
          .as("support"),
        ((col("n_ab").cast("double") * col("n_baskets").cast("double"))
          / (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy("sku_a", "sku_b")
  }

  // ---- cohort lifetime value ---------------------------------------------

  /** `gold_cohort_ltv`: revenue cohort matrix — customers grouped by
    * their FIRST purchase month, revenue and active-customer counts per
    * (cohort, months-since-first) cell. The acquisition-quality view the
    * daily summary can't answer ("do customers acquired in March keep
    * spending?"); `evt_retention`'s twin on the money fact.
    *
    * Scale shape: first-purchase is one partial-aggregating groupBy on
    * customer_id; the fact re-joins it on the SAME key (co-partitioned —
    * one exchange reused by both sides under AQE); the cell aggregate
    * partial-combines map-side. Months are compared in integer year·12+
    * month space (no fp date math; identical arithmetic both engines). */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.sales(spark, dir)
      .select(col("customer_id"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).as("ym"),
        (col("unit_price") * col("quantity")).as("amount"))
    val first = s.groupBy("customer_id").agg(min(col("ym")).as("cohort_ym"))
    s.join(first, Seq("customer_id"))
      .groupBy(
        make_date(expr("cohort_ym DIV 12"), col("cohort_ym") % 12 + 1, lit(1))
          .as("cohort_month"),
        (col("ym") - col("cohort_ym")).cast("int").as("month_offset"))
      .agg(
        count_distinct(col("customer_id")).as("active_customers"),
        count(lit(1)).as("n_sales"),
        moneySum(col("amount")).as("revenue"))
      .orderBy("cohort_month", "month_offset")
  }

  // ---- purchase-cadence and price-response analytics ---------------------

  /** `gold_order_gap`: distribution of days between a customer's
    * consecutive purchase days — the cadence histogram behind
    * replenishment / churn-window models (the RFM recency axis is this
    * distribution's tail).
    *
    * Scale shape: one distinct-shuffle to (customer, day), then a lag
    * window PARTITIONED BY CUSTOMER (bounded by one customer's
    * distinct days — never a global sort), then one partial-aggregated
    * histogram groupBy whose key space is bounded by the date range.
    * All day math is integer datediff. */
  def orderGaps(spark: SparkSession, dir: String): DataFrame =
    orderGapsOf(Tables.sales(spark, dir))

  def orderGapsOf(sales: DataFrame): DataFrame = {
    val cd = sales
      .select(col("customer_id"), to_date(col("sale_ts")).as("sale_date"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("customer_id").orderBy("sale_date")
    cd.withColumn("prev", lag(col("sale_date"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("customer_id"),
        datediff(col("sale_date"), col("prev")).cast("long").as("gap_days"))
      .groupBy("gap_days")
      .agg(count(lit(1)).as("n_gaps"),
        count_distinct(col("customer_id")).as("n_customers"))
      .orderBy("gap_days")
  }

  /** `gold_price_slope`: per-category OLS slope of quantity against
    * unit price — the first-order price-response (elasticity proxy)
    * a pricing team reads before a demand model.
    *
    * Determinism at scale: the five sufficient statistics (n, Σx, Σy,
    * Σxy, Σx²) accumulate as EXACT integers — price snapped to the
    * 1e-4 fixed-point grid (`FLOOR(p·10⁴)`, tie-free), quantity already
    * integral — in DECIMAL(38,0), so the sums are order-independent
    * under any partitioning and bit-equal to DuckDB's HUGEINT
    * arithmetic. Only the five FINISHED statistics are cast to double
    * (exact while < 2⁵³), and the closed-form slope runs as the
    * identical IEEE expression in both engines. One broadcast dim
    * join + ONE partial-aggregating groupBy of the fact; a
    * constant-price category (zero x-variance) yields NULL, never a
    * NaN. */
  def priceSlope(spark: SparkSession, dir: String): DataFrame =
    priceSlopeOf(Tables.sales(spark, dir), Tables.products(spark, dir))

  def priceSlopeOf(sales: DataFrame, products: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val cat = products.select("product_id", "category")
    val s = sales
      .join(broadcast(cat), Seq("product_id"))
      .select(col("category"),
        floor(col("unit_price") * 10000).cast(dec).as("x"),
        col("quantity").cast(dec).as("y"))
    // The five sufficient statistics stay exact decimals through the
    // aggregate; ONLY THEY are cast to double (each < 2⁵³ at verified
    // scales → the conversion is exact), and the closed-form slope runs
    // as the identical IEEE expression in both engines. Casting the
    // ~1e19 products instead would hit DuckDB's two-step HUGEINT→DOUBLE
    // conversion, which is not correctly rounded (1-ulp drift observed).
    val nd   = col("n").cast("double")
    val sxd  = col("sx").cast("double")
    val syd  = col("sy").cast("double")
    val sxyd = col("sxy").cast("double")
    val sxxd = col("sxx").cast("double")
    val den  = nd * sxxd - sxd * sxd
    s.groupBy("category")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("category"), col("n").cast("long").as("n_sales"),
        (syd / nd).as("mean_qty"),
        when(den === 0, lit(null))
          .otherwise((nd * sxyd - sxd * syd) / den * 10000).as("slope"))
      .orderBy("category")
  }

  /** `gold_repeat_rate`: monthly repeat-purchase rate — per calendar
    * month, how many distinct customers ordered and what share ordered
    * twice or more (the retention headline next to [[cohortLtv]]'s
    * longitudinal view). Two co-keyed partial-aggregating groupBys
    * ((month, customer) → month, the [[Events.botRate]] shape): at
    * 100 TB the first shuffle is the order stream keyed by month+
    * customer, the second is month-cardinality metadata. Integer month
    * arithmetic; the rate divides two exact counts in one IEEE op. */
  def repeatRate(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "orders")
      .select(col("o_custkey").as("customer_id"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).as("ym"))
      .groupBy("ym", "customer_id").agg(count(lit(1)).as("n_orders"))
      .groupBy("ym")
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
      .select(
        make_date(expr("ym DIV 12"), col("ym") % 12 + 1, lit(1)).as("month"),
        col("n_customers"), col("n_repeat"),
        (col("n_repeat").cast("double") / col("n_customers").cast("double"))
          .as("repeat_rate"))
      .orderBy("month")

  // ---- ABC / Pareto classification ---------------------------------------

  /** `gold_abc_class`: ABC (Pareto) inventory classification — class A
    * products cover the top 80% of cumulative revenue, B the next 15%,
    * C the tail (the merchandising standard for stocking priority;
    * reference load.py's product ranking stops at totals — this is the
    * canonical downstream classification).
    *
    * Scale shape: the hazard is the revenue-ordered global cumulative
    * sum — a bare `SUM OVER (ORDER BY revenue DESC)` funnels every
    * product through ONE task. [[SkewUtils.prefixSum]] instead:
    * per-product fixed-point revenue (one partial-agg groupBy of the
    * fact), then the range-partitioned two-pass scan in exact
    * (revenue DESC, product_id) order — balanced under the power-law
    * revenue distribution this statistic targets, because the
    * RangePartitioner samples the full sort tuple (a heavy tied
    * revenue splits across partitions on product_id).
    * Cumulative sums ride as DECIMAL(38,0); the A/B thresholds compare
    * `5·cum ≤ 4·total` / `20·cum ≤ 19·total` in exact integer
    * arithmetic, so the class boundary can never move under double
    * rounding; doubles appear only in the output money columns (the
    * [[moneySum]] convention). */
  def abcClass(spark: SparkSession, dir: String): DataFrame =
    abcClassOf(Tables.sales(spark, dir))

  def abcClassOf(sales: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val rev = sales.groupBy("product_id")
      .agg(sum(floor(col("unit_price") * col("quantity") * lit(10000))
        .cast(DecimalType(28, 0))).cast("long").as("rev_i"))
    val total = rev.agg(sum(col("rev_i").cast(dec)).as("total"))
    SkewUtils.prefixSum(rev,
        Seq(col("rev_i").desc, col("product_id").asc),
        col("rev_i").cast(dec), "cum")
      .crossJoin(broadcast(total))
      .select(col("product_id"),
        (col("rev_i").cast("double") / 10000).as("revenue"),
        (col("cum").cast("double") / 10000).as("cum_revenue"),
        when(col("cum") * 5 <= col("total") * 4, "A")
          .when(col("cum") * 20 <= col("total") * 19, "B")
          .otherwise("C").as("abc_class"))
      .orderBy("product_id")
  }

  /** `gold_xyz_class`: demand-variability (XYZ) classification — the
    * forecastability companion to [[abcClass]]'s value ranking: per
    * product, the coefficient of variation of MONTHLY demand over the
    * fact's full month span (zero-demand months included), classed
    * X (steady, cv < 0.5) / Y (seasonal, cv < 1) / Z (erratic).
    * Inventory planning reads the ABC×XYZ matrix; the reference stops
    * at value cuts. The CV is over the product's OBSERVED selling
    * months (`n_months` rides along so a reader can spot thin
    * histories) — on a long-tail catalog the zero-filled-span variant
    * degenerates to "everything Z" and ranks nothing.
    *
    * Scale shape: ONE partial-aggregating groupBy of the fact on
    * (product, month), then a product-keyed rollup OF that aggregate —
    * no window, no catalog join. Exactness: n, Σq and Σq² are integer
    * sums (quantity is BIGINT); cv = √(n·Σq² − (Σq)²)/Σq is two
    * correctly-rounded IEEE ops over exact integers, so the doubles
    * are bit-identical in any engine and the class cuts are stable.
    * (n·Σq² stays in BIGINT: ANSI overflow would THROW loudly, not
    * corrupt — at 100 TB per-month per-product demand beyond ~3·10⁹
    * units wants a DECIMAL widening, a one-line change.) */
  def xyzClass(spark: SparkSession, dir: String): DataFrame = {
    val pm = Tables.sales(spark, dir)
      .select(col("product_id"), col("quantity"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1)
          .cast("long").as("ym"))
      .groupBy("product_id", "ym").agg(sum("quantity").as("q"))
    pm.groupBy("product_id")
      .agg(count(lit(1)).as("n_months"),
        sum("q").as("s1"), sum(col("q") * col("q")).as("s2"))
      .select(col("product_id"), col("n_months"), col("s1").as("total_qty"),
        (sqrt((col("n_months") * col("s2") - col("s1") * col("s1"))
          .cast("double")) / col("s1").cast("double")).as("demand_cv"))
      .withColumn("xyz_class",
        when(col("demand_cv") < 0.5, "X")
          .when(col("demand_cv") < 1.0, "Y").otherwise("Z"))
      .orderBy("product_id")
  }

  /** `gold_snaive_backtest`: seasonal-naive forecast backtest — for
    * every category, predict each month's revenue as the SAME MONTH
    * LAST YEAR's revenue and score the prediction over all months
    * where both exist: per category the backtest month count, MAE and
    * WAPE (Σ|err|/Σactual — the scale-free accuracy number demand
    * planners quote). The baseline every real forecast model must
    * beat; publishing it next to [[seasonality]] closes the
    * plan→measure loop the reference's dashboards stop short of.
    *
    * Exactness: revenues are fixed-point ints ([[moneySum]] grid), the
    * error is an integer |a − b| summed in DECIMAL(38,0), and MAE/WAPE
    * are single IEEE divisions of exact sums — engine-identical.
    * Scale shape: ONE partial-aggregating groupBy of the fact on
    * (category, month) after the broadcast dim join, then a
    * category×month-sized self-join on (category, month−12) and a
    * category-sized rollup — everything after the first aggregate is
    * catalog-sized metadata. */
  def snaiveBacktest(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val p = Tables.products(spark, dir).select("product_id", "category")
    val rev = Tables.sales(spark, dir)
      .join(broadcast(p), "product_id")
      .select(col("category"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).as("ym"),
        col("unit_price"), col("quantity"))
      .groupBy("category", "ym")
      .agg(sum(floor(col("unit_price") * col("quantity") * lit(10000))
        .cast(DecimalType(28, 0))).cast("long").as("rev_i"))
    val pred = rev.select(col("category"), (col("ym") + 12).as("ym"),
      col("rev_i").as("pred_i"))
    rev.join(pred, Seq("category", "ym"))
      .groupBy("category")
      .agg(count(lit(1)).as("n_backtest_months"),
        sum(abs(col("rev_i") - col("pred_i")).cast(dec)).as("abs_err"),
        sum(col("rev_i").cast(dec)).as("actual"))
      .select(col("category"), col("n_backtest_months"),
        (col("abs_err").cast("double") / 10000
          / col("n_backtest_months").cast("double")).as("mae"),
        (col("abs_err").cast("double") / col("actual").cast("double"))
          .as("wape"))
      .orderBy("category")
  }

  /** `gold_market_share`: brand (sku) revenue share within category —
    * the merchandising view behind assortment decisions ("which brand
    * owns this category"), the share-of-shelf companion to
    * [[productPerformance]]'s absolute totals.
    *
    * Scale shape: ONE partial-aggregating groupBy of the fact on
    * (category, sku) — the only corpus-sized shuffle; the category
    * totals are an aggregate OF that aggregate (brand-cardinality
    * input, category-cardinality output — metadata), broadcast back.
    * No window over the category: share divides the two
    * fixed-point-exact revenues in one IEEE op, so the result is
    * order-independent and engine-portable. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.products(spark, dir).select("product_id", "sku", "category")
    val rev = Tables.sales(spark, dir)
      .join(broadcast(p), "product_id")
      .groupBy("category", "sku")
      .agg(count(lit(1)).as("n_sales"),
        sum(floor(col("unit_price") * col("quantity") * lit(10000))
          .cast(DecimalType(28, 0))).as("rev_i"))
    val catTotals = rev.groupBy("category")
      .agg(sum(col("rev_i")).as("cat_i"))
    rev.join(broadcast(catTotals), "category")
      .select(col("category"), col("sku"), col("n_sales"),
        (col("rev_i").cast("double") / 10000).as("revenue"),
        (col("cat_i").cast("double") / 10000).as("category_revenue"),
        (col("rev_i").cast("double") / col("cat_i").cast("double")).as("share"))
      .orderBy("category", "sku")
  }

  /** `gold_new_vs_returning`: monthly revenue split by whether the
    * customer is in their first-ever purchase month — the
    * acquisition-vs-retention decomposition growth teams read next to
    * [[cohortLtv]] (which tracks cohorts forward; this collapses to
    * the per-month headline).
    *
    * Scale shape: the fact collapses to (customer, month) rows in ONE
    * partial-aggregating groupBy; the first-month lookup is a second
    * aggregate of THAT table and joins back co-partitioned on
    * customer_id (no second fact shuffle at a bucketed warehouse);
    * the month rollup is metadata. Integer month arithmetic,
    * fixed-point revenue, and the new/returning flag is an exact
    * integer compare — no window, no state. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val cm = Tables.sales(spark, dir)
      .select(col("customer_id"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).as("ym"),
        col("unit_price"), col("quantity"))
      .groupBy("customer_id", "ym")
      .agg(sum(floor(col("unit_price") * col("quantity") * lit(10000))
        .cast(DecimalType(28, 0))).as("rev_i"))
    val first = cm.groupBy("customer_id").agg(min(col("ym")).as("first_ym"))
    cm.join(first, "customer_id")
      .withColumn("is_new", col("ym") === col("first_ym"))
      .groupBy("ym")
      .agg(
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new_customers"),
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_returning_customers"),
        sum(when(col("is_new"), col("rev_i")).otherwise(lit(0).cast(DecimalType(28, 0))))
          .as("new_i"),
        sum(when(!col("is_new"), col("rev_i")).otherwise(lit(0).cast(DecimalType(28, 0))))
          .as("ret_i"))
      .select(
        make_date(expr("ym DIV 12"), col("ym") % 12 + 1, lit(1)).as("month"),
        col("n_new_customers"), col("n_returning_customers"),
        (col("new_i").cast("double") / 10000).as("new_revenue"),
        (col("ret_i").cast("double") / 10000).as("returning_revenue"))
      .orderBy("month")
  }

  /** `gold_returns`: per-category return rate and returned revenue from
    * the line-status flag (`l_returnflag = 'R'`) — the merchandise-
    * quality view next to [[productPerformance]] (which counts sales;
    * this counts what came back).
    *
    * Scale shape: ONE partial-aggregating groupBy of the line fact after
    * a broadcast dim join; the return flag collapses map-side into
    * conditional counters, so the shuffle carries category-cardinality
    * rows. Returned revenue is fixed-point ([[moneySum]] convention);
    * the rate is one IEEE division of two exact counters. */
  def returnsByCategory(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(spark, dir, "lineitem")
      .select(col("l_partkey").as("product_id"), col("l_returnflag"),
        floor(col("l_quantity")).as("qty"), col("l_extendedprice"))
    val p = Tables.products(spark, dir).select("product_id", "category")
    li.join(broadcast(p), "product_id")
      .groupBy("category")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"),
        sum(col("qty")).as("total_qty"),
        sum(when(col("l_returnflag") === "R", col("qty")).otherwise(0L))
          .as("returned_qty"),
        moneySum(when(col("l_returnflag") === "R", col("l_extendedprice"))
          .otherwise(lit(0.0))).as("returned_revenue"))
      .withColumn("return_rate",
        col("n_returned").cast("double") / col("n_lines").cast("double"))
      .orderBy("category")
  }

  /** `gold_discount_impact`: per-category gross revenue, discount given,
    * tax collected and net-of-discount revenue from the line-level
    * `l_discount`/`l_tax` rates — the margin-decomposition view behind
    * promotion planning (how much revenue each category's discounts
    * cost, and the effective realized discount rate).
    *
    * Scale shape: ONE partial-aggregating groupBy of the line fact after
    * a broadcast dim join. All four money measures are independent
    * fixed-point sums ([[moneySum]]) — exact, order-independent,
    * merge-safe; the effective rate divides two of them in one IEEE op
    * (engine-portable, no window, no second scan). */
  def discountImpact(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.table(spark, dir, "lineitem")
      .select(col("l_partkey").as("product_id"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
    val p = Tables.products(spark, dir).select("product_id", "category")
    li.join(broadcast(p), "product_id")
      .groupBy("category")
      .agg(
        count(lit(1)).as("n_lines"),
        moneySum(col("l_extendedprice")).as("gross_revenue"),
        moneySum(col("l_extendedprice") * col("l_discount"))
          .as("discount_amount"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("net_revenue"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * col("l_tax")).as("tax_amount"))
      .withColumn("effective_discount_rate",
        col("discount_amount") / col("gross_revenue"))
      .orderBy("category")
  }

  /** Order-value histogram bucket width (dollars). */
  val OrderValueBucket = 25000

  /** `gold_order_value_histogram`: distribution of order header totals
    * in fixed-width [[OrderValueBucket]] buckets — the basket-size
    * profile that sizes free-shipping thresholds and flags mix shifts
    * (read next to [[newVsReturning]]).
    *
    * Scale shape: the bucket index is pure per-row arithmetic
    * (`FLOOR(total/width)` in identical IEEE ops both engines — no
    * percentile, no sort), so the only shuffle is a histogram groupBy
    * whose cardinality is the bucket count, with map-side partials.
    * Min/max of doubles are exact compares; revenue per bucket is
    * fixed-point. */
  def orderValueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "orders")
      .select(col("o_totalprice"),
        floor(col("o_totalprice") / lit(OrderValueBucket.toDouble))
          .cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("min_total"),
        max(col("o_totalprice")).as("max_total"),
        moneySum(col("o_totalprice")).as("bucket_revenue"))
      .withColumn("bucket_lo",
        (col("bucket") * OrderValueBucket).cast("double"))
      .select("bucket", "bucket_lo", "n_orders", "min_total", "max_total",
        "bucket_revenue")
      .orderBy("bucket")

  /** `gold_seasonality`: month-of-year revenue index per category —
    * each calendar month's share of the category's revenue scaled so a
    * flat category sits at 1.0 (index = 12·month_rev / total_rev). The
    * demand-planning view behind stocking calendars; a category whose
    * December index is 3 is a holiday item.
    *
    * Scale shape: ONE partial-aggregating groupBy of the fact on
    * (category, month-of-year) — a ≤ 12·|categories| key space; the
    * category totals are an aggregate OF that aggregate (metadata),
    * broadcast back. Fixed-point revenue; the index multiplies the
    * exact DECIMAL by 12 before ONE IEEE division, so it is bit-equal
    * cross-engine. */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.products(spark, dir).select("product_id", "category")
    val cm = Tables.sales(spark, dir)
      .join(broadcast(p), "product_id")
      .groupBy(col("category"), month(col("sale_ts")).as("mth"))
      .agg(count(lit(1)).as("n_sales"),
        sum(floor(col("unit_price") * col("quantity") * lit(10000))
          .cast(DecimalType(28, 0))).as("rev_i"))
    val totals = cm.groupBy("category").agg(sum(col("rev_i")).as("cat_i"))
    cm.join(broadcast(totals), "category")
      .select(col("category"), col("mth"), col("n_sales"),
        (col("rev_i").cast("double") / 10000).as("revenue"),
        ((col("rev_i") * 12).cast("double") / col("cat_i").cast("double"))
          .as("seasonality_index"))
      .orderBy("category", "mth")
  }

  /** Partners per brand in [[alsoBought]]. */
  val AlsoBoughtK = 3

  /** `gold_also_bought`: the "customers also bought" serving feed — per
    * brand, its top-[[AlsoBoughtK]] co-purchase partners by lift
    * (pairs from [[basketAffinity]]). The recommendation
    * view merchandising actually ships; affinity pairs are the
    * analysis view, this is the per-anchor ranked cut.
    *
    * Scale shape: everything downstream of the affinity pairs is
    * BRAND-CATALOG-sized metadata — the symmetrize union doubles a
    * catalog² table and the per-anchor rank window is bounded by the
    * partner catalog. Lift ties break on the partner name, so the cut
    * is deterministic and exactly oracle-checkable. */
  def alsoBought(spark: SparkSession, dir: String): DataFrame = {
    val aff = basketAffinity(spark, dir)
      .select(col("sku_a"), col("sku_b"), col("n_ab"), col("lift"))
    val sym = aff
      .select(col("sku_a").as("sku"), col("sku_b").as("partner"),
        col("n_ab"), col("lift"))
      .unionAll(aff.select(col("sku_b").as("sku"), col("sku_a").as("partner"),
        col("n_ab"), col("lift")))
    sym
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("sku")
          .orderBy(col("lift").desc, col("partner"))))
      .where(col("rn") <= AlsoBoughtK)
      .select(col("sku"), col("rn").cast("int").as("rn"), col("partner"),
        col("n_ab"), col("lift"))
      .orderBy("sku", "rn")
  }

  /** `gold_stockout`: staleness screen over the availability ledger —
    * per (store, product), days since the last movement vs that item's
    * own historical movement cadence; an item silent for ≥3× its usual
    * gap (or [[StockoutColdDays]] days for single-movement items) is
    * flagged as a stockout/delisting candidate. The replenishment
    * worklist read off [[Tables.inventory]]'s ledger.
    *
    * Scale shape: ONE partial-aggregating groupBy of the fact to the
    * (store, product) ledger grain; the corpus max date is a broadcast
    * 1-row aggregate. The cadence test cross-multiplies exact integer
    * day counts (`(n−1)·stale > 3·span`) — no division, no doubles, no
    * window. */
  def stockoutRisk(spark: SparkSession, dir: String): DataFrame = {
    val led = Tables.sales(spark, dir)
      .groupBy("store_id", "product_id")
      .agg(count(lit(1)).as("n_movements"),
        min(to_date(col("sale_ts"))).as("first_movement_date"),
        max(to_date(col("sale_ts"))).as("last_movement_date"))
    val gmax = led.agg(max(col("last_movement_date")).as("gmax"))
    led.crossJoin(broadcast(gmax))
      .select(col("store_id"), col("product_id"), col("n_movements"),
        col("last_movement_date"),
        datediff(col("gmax"), col("last_movement_date")).cast("long")
          .as("stale_days"),
        datediff(col("last_movement_date"), col("first_movement_date"))
          .cast("long").as("span_days"))
      .withColumn("stockout_risk",
        when(col("n_movements") >= 2,
          (col("n_movements") - 1) * col("stale_days") > col("span_days") * 3)
          .otherwise(col("stale_days") > StockoutColdDays))
      .orderBy("store_id", "product_id")
  }

  /** Staleness bar (days) for single-movement items in
    * [[stockoutRisk]]. */
  val StockoutColdDays = 90L

  /** `gold_aov_monthly`: monthly average-order-value trend with the
    * month-over-month delta — the board-deck headline next to
    * [[newVsReturning]]'s split and [[repeatRate]]'s loyalty view
    * (price increases, mix shifts and promo depth all land in AOV
    * first).
    *
    * Scale shape: ONE fact groupBy on the month key (orders counted
    * distinct within it — the order key is a prefix of the line key,
    * so the distinct stays inside the same shuffle); the
    * previous-month lookup is a broadcast self-join of the
    * metadata-sized month table (the [[graft.operators.Athena
    * .yoyGrowth]] pattern, never a window). Integer month math,
    * fixed-point revenue, one IEEE division per cell. */
  def aovMonthly(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(28, 0)
    val m = Tables.sales(spark, dir)
      .select((year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).as("ym"),
        expr("transaction_id DIV 10").as("order_key"),
        col("unit_price"), col("quantity"))
      .groupBy("ym")
      .agg(countDistinct(col("order_key")).as("n_orders"),
        sum(floor(col("unit_price") * col("quantity") * lit(10000)).cast(dec))
          .as("rev_i"))
      .withColumn("aov",
        col("rev_i").cast("double") / 10000 / col("n_orders").cast("double"))
      // checkpoint the month-catalog-sized series: the lag self-join
      // otherwise re-runs the whole fact aggregate for its prev side
      .localCheckpoint()
    val prev = m.select((col("ym") + 1).as("p_ym"), col("aov").as("prev_aov"))
    m.join(broadcast(prev), col("ym") === col("p_ym"), "left")
      .select(
        make_date(expr("ym DIV 12"), col("ym") % 12 + 1, lit(1)).as("month"),
        col("n_orders"),
        (col("rev_i").cast("double") / 10000).as("revenue"),
        col("aov"), (col("aov") - col("prev_aov")).as("mom_delta"))
      .orderBy("month")
  }

  /** `gold_category_hhi`: brand concentration per category — the
    * Herfindahl–Hirschman index (Σ share², 1/n_brands = perfectly
    * split, 1 = monopoly) over brand revenue shares. The antitrust-
    * standard scalar behind assortment-diversification decisions; the
    * one-number compression of [[marketShare]]'s full table.
    *
    * Scale shape: ONE fact groupBy to (category, brand) fixed-point
    * revenues; both Σrev² and (Σrev)² derive from exact DECIMAL sums
    * of that metadata-sized table, and HHI is one IEEE division —
    * identical in both engines. */
  def categoryHhi(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.products(spark, dir).select("product_id", "sku", "category")
    val rev = Tables.sales(spark, dir)
      .join(broadcast(p), "product_id")
      .groupBy("category", "sku")
      .agg(sum(floor(col("unit_price") * col("quantity") * lit(10000))
        .cast(DecimalType(28, 0))).as("rev_i"))
    rev.groupBy("category")
      .agg(count(lit(1)).as("n_brands"),
        sum(col("rev_i")).as("tot"),
        // cast to 19 digits BEFORE squaring: 19+19 = 38 stays inside
        // both engines' decimal width (28×28 would overflow DuckDB's)
        sum(col("rev_i").cast(DecimalType(19, 0))
          * col("rev_i").cast(DecimalType(19, 0))).as("sq"))
      .select(col("category"), col("n_brands"),
        (col("tot").cast("double") / 10000).as("category_revenue"),
        (col("sq").cast("double")
          / (col("tot").cast("double") * col("tot").cast("double"))).as("hhi"))
      .orderBy("category")
  }

  /** `gold_first_purchase_category`: acquisition category mix — for
    * each cohort month, which category won customers' FIRST-ever
    * purchase. The "what brings people in the door" view read next to
    * [[cohortLtv]] (which tracks value after acquisition; this
    * explains the acquisition itself).
    *
    * Scale shape: the first purchase is an integer-exact
    * `min(struct(ts, transaction_id, product_id))` per customer — one
    * partial-aggregating groupBy, deterministic tiebreak, NO window;
    * the category join is a broadcast dim probe on customer-sized
    * metadata and the (month, category) rollup is calendar×catalog
    * cells. */
  def firstPurchaseCategory(spark: SparkSession, dir: String): DataFrame = {
    val first = Tables.sales(spark, dir)
      .groupBy("customer_id")
      .agg(min(struct(col("sale_ts"), col("transaction_id"),
        col("product_id"))).as("f"))
      .select(col("customer_id"), col("f.sale_ts").as("first_ts"),
        col("f.product_id").as("product_id"))
    first
      .join(broadcast(Tables.products(spark, dir)
        .select("product_id", "category")), "product_id")
      .groupBy(
        (year(col("first_ts")) * 12 + month(col("first_ts")) - 1).as("ym"),
        col("category"))
      .agg(count(lit(1)).as("n_new_customers"))
      .select(
        make_date(expr("ym DIV 12"), col("ym") % 12 + 1, lit(1))
          .as("cohort_month"),
        col("category"), col("n_new_customers"))
      .orderBy("cohort_month", "category")
  }

  /** Movers reported by [[topMovers]]. */
  val MoversK = 20

  /** `gold_top_movers`: fastest-growing products — revenue in the
    * second half of the trading window vs the first, top-[[MoversK]]
    * by growth ratio among products that traded in BOTH halves. The
    * trend-detection feed behind "rising product" merchandising (the
    * product-grain companion of [[graft.operators.Athena.yoyGrowth]]'s
    * category view).
    *
    * Scale shape: the window midpoint is a broadcast 1-row min/max
    * aggregate (integer epoch-day midpoint — deterministic, no
    * percentile); halves collapse in ONE conditional fixed-point
    * aggregate per product; the ratio is one IEEE division and the
    * cut is a TakeOrderedAndProject with a unique tiebreak. */
  def topMovers(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.sales(spark, dir)
      .select(col("product_id"),
        datediff(to_date(col("sale_ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("eday"),
        col("unit_price"), col("quantity"))
    val mid = s.agg(expr("(MIN(eday) + MAX(eday)) DIV 2").as("mid"))
    val dec = DecimalType(28, 0)
    s.crossJoin(broadcast(mid))
      .groupBy("product_id")
      .agg(
        sum(when(col("eday") <= col("mid"),
          floor(col("unit_price") * col("quantity") * lit(10000)).cast(dec))
          .otherwise(lit(0).cast(dec))).as("h1_i"),
        sum(when(col("eday") > col("mid"),
          floor(col("unit_price") * col("quantity") * lit(10000)).cast(dec))
          .otherwise(lit(0).cast(dec))).as("h2_i"))
      .where(col("h1_i") > 0 && col("h2_i") > 0)
      .select(col("product_id"),
        (col("h1_i").cast("double") / 10000).as("h1_revenue"),
        (col("h2_i").cast("double") / 10000).as("h2_revenue"),
        (col("h2_i").cast("double") / col("h1_i").cast("double"))
          .as("growth_ratio"))
      .orderBy(col("growth_ratio").desc, col("product_id"))
      .limit(MoversK)
  }

  /** `gold_inventory_turnover`: per-store movement-velocity rollup over
    * the availability ledger — product count, units moved, the store's
    * active month span, units per product-month, and the share of SLOW
    * MOVERS (items with fewer movements than the store has active
    * months — sub-monthly velocity). The assortment-health view read
    * next to [[stockoutRisk]] (which flags individual stale items;
    * this rolls velocity up to the store).
    *
    * Scale shape: ONE partial-aggregating groupBy of the fact to the
    * (store, product) ledger grain; the store month-span is an
    * aggregate OF that ledger joined back co-keyed on store_id; the
    * slow-mover test compares exact integers (no division). Month
    * arithmetic is pure integer (y·12+m); the only doubles are the two
    * output rates, each one IEEE division of exact longs. */
  def inventoryTurnover(spark: SparkSession, dir: String): DataFrame = {
    val led = Tables.sales(spark, dir)
      .withColumn("ym",
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).cast("long"))
      .groupBy("store_id", "product_id")
      .agg(sum(col("quantity")).as("units"), count(lit(1)).as("n_mv"),
        min(col("ym")).as("ym0"), max(col("ym")).as("ym1"))
    val span = led.groupBy("store_id")
      .agg((max(col("ym1")) - min(col("ym0")) + 1).as("span_months"))
    led.join(span, Seq("store_id"))
      .groupBy("store_id", "span_months")
      .agg(count(lit(1)).as("n_products"), sum(col("units")).as("units_sold"),
        sum(when(col("n_mv") < col("span_months"), 1L).otherwise(0L))
          .as("n_slow_movers"))
      .select(col("store_id"), col("n_products"), col("units_sold"),
        col("span_months"),
        (col("units_sold").cast("double") /
          (col("n_products").cast("double") * col("span_months").cast("double")))
          .as("units_per_product_month"),
        (col("n_slow_movers").cast("double") / col("n_products").cast("double"))
          .as("slow_mover_share"))
      .orderBy("store_id")
  }

  /** `gold_assortment_overlap`: store-pair assortment similarity — for
    * every pair of stores, the count of products both have sold,
    * Jaccard of their assortments, and mutual containment. The
    * network-planning view ("are these two stores interchangeable?")
    * — the retail twin of [[Dedup.crossOverlap]]'s source matrix.
    *
    * Scale shape: ONE distinct-shuffle to (store, product); the pair
    * expansion is keyed on product_id with per-key multiplicity ≤ the
    * STORE catalog (collect_set state is store-catalog-bounded), so a
    * universally-stocked product contributes |stores|² pair rows, never
    * corpus-sized work; per-store sizes broadcast back. */
  def assortmentOverlap(spark: SparkSession, dir: String): DataFrame = {
    // materialize the distinct assortment ONCE: the pair self-join's
    // two sides and the two per-store broadcasts otherwise each re-run
    // the fact join + distinct (4 scans; ReuseExchange does not fire
    // across the differently-aliased sides). The assortment is
    // store×product-bounded — checkpoint-sized, not fact-sized.
    val sp = Tables.sales(spark, dir)
      .select("store_id", "product_id").distinct().localCheckpoint()
    val per = sp.groupBy("store_id").agg(count(lit(1)).as("n_products"))
    sp.select(col("store_id").as("store_a"), col("product_id"))
      .join(sp.select(col("store_id").as("store_b"), col("product_id")),
        Seq("product_id"))
      .where(col("store_a") < col("store_b"))
      .groupBy("store_a", "store_b")
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(per.select(col("store_id").as("store_a"),
        col("n_products").as("n_a"))), Seq("store_a"))
      .join(broadcast(per.select(col("store_id").as("store_b"),
        col("n_products").as("n_b"))), Seq("store_b"))
      .select(col("store_a"), col("store_b"), col("n_common"),
        col("n_a"), col("n_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"),
        (col("n_common").cast("double") / col("n_a").cast("double"))
          .as("containment_a"),
        (col("n_common").cast("double") / col("n_b").cast("double"))
          .as("containment_b"))
      .orderBy("store_a", "store_b")
  }

  /** `gold_revenue_autocorr`: lag-1 autocorrelation of monthly revenue
    * — one number: is next month's revenue predictable from this
    * month's (persistence/momentum), or is the series noise? The
    * first statistic a forecasting effort checks (an AR(1) fit is only
    * worth building if this is materially nonzero), read with
    * [[seasonality]] (which decomposes by calendar month; this
    * measures serial dependence).
    *
    * Scale shape + determinism: the fact collapses to the MONTHLY
    * revenue series (calendar metadata) in one fixed-point partial-agg
    * groupBy; the lag pairing is a ym = ym+1 self-join of that
    * metadata; the Pearson statistic rides five exact DECIMAL(38,0)
    * sufficient statistics with the closed form in identical IEEE ops
    * — the [[Graph.assortativity]] template. Monthly revenue is
    * descaled to whole currency units (integer DIV), then cast to
    * DECIMAL(19,0) BEFORE the cross products (the [[categoryHhi]]
    * pre-squaring discipline): a LONG multiply would overflow — and
    * under ANSI mode throw — past ~3e9 whole units per month, while
    * 19-digit operands keep every product inside both engines'
    * 38-digit decimal width. */
  def revenueAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val d19 = DecimalType(19, 0)
    val m = Tables.sales(spark, dir)
      .withColumn("ym",
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).cast("long"))
      .groupBy("ym")
      .agg(sum(floor(col("unit_price") * col("quantity") * lit(10000))
        .cast(DecimalType(28, 0))).cast("long").as("rev_i"))
      .select(col("ym"), expr("rev_i DIV 10000").as("rev_d"))
      // checkpoint the month-catalog-sized series: the lag self-join
      // otherwise re-runs the whole fact aggregate for its lagged side
      .localCheckpoint()
    val pairs = m.select((col("ym") + 1).as("ym"), col("rev_d").as("x"))
      .join(m.select(col("ym"), col("rev_d").as("y")), Seq("ym"))
      .select("x", "y")
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x").cast(d19) * col("y").cast(d19)).cast(dec)).as("sxy"),
        sum((col("x").cast(d19) * col("x").cast(d19)).cast(dec)).as("sxx"),
        sum((col("y").cast(d19) * col("y").cast(d19)).cast(dec)).as("syy"))
      .select(col("n_pairs"),
        ((col("n_pairs") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / sqrt((col("n_pairs") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n_pairs") * col("syy").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))))
          .as("autocorr"))
  }

  /** `gold_segment_sales`: monthly sales mart per market segment (the
    * retail view's `city` — TPC-H's `c_mktsegment`): distinct orders,
    * active customers, fixed-point revenue and revenue per order. The
    * segment-level rollup the reference's city-partitioned analytics
    * layout (athena_queries.py:76-122's GROUP-BY style over the
    * customer dimension) implies but never materializes — the first
    * query a merchandising team asks of a sales mart.
    *
    * Scale shape: one fact⋈dim equi-join on the customer key (the dim
    * broadcasts at test SF; co-partitioned hash join at 100 TB), then
    * a partial-aggregating groupBy to segment×month cells; the two
    * exact distincts ride the same expand-based two-phase aggregate,
    * never a single task. */
  def segmentSales(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(28, 0)
    val cust = Tables.customers(spark, dir).select("customer_id", "city")
    // pre-aggregate to order grain first: two distinct aggregates in
    // one groupBy would Expand the joined fact ×3 (one branch per
    // distinct + one for the sums); at order grain n_orders is a plain
    // count and only the customer distinct remains — the single-
    // distinct rewrite, no Expand. customer_id rides the grain key for
    // free (order → customer is functional).
    Tables.sales(spark, dir)
      .join(cust, "customer_id")
      .select(col("city"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).as("ym"),
        expr("transaction_id DIV 10").as("order_key"),
        col("customer_id"), col("unit_price"), col("quantity"))
      .groupBy("city", "ym", "order_key", "customer_id")
      .agg(sum(floor(col("unit_price") * col("quantity") * lit(10000))
        .cast(dec)).as("rev_i"))
      .groupBy("city", "ym")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("customer_id")).as("n_customers"),
        sum(col("rev_i")).as("rev_ii"))
      .select(col("city").as("segment"),
        make_date(expr("ym DIV 12"), col("ym") % 12 + 1, lit(1)).as("month"),
        col("n_orders"), col("n_customers"),
        (col("rev_ii").cast("double") / 10000).as("revenue"),
        ((col("rev_ii").cast("double") / 10000)
          / col("n_orders").cast("double")).as("rev_per_order"))
      .orderBy("segment", "month")
  }

  /** `gold_nation_trade`: customer-country × store-country revenue
    * matrix — where demand sits vs where fulfilment sits, with a
    * domestic flag (the cross-border trade-flow question, TPC-H Q7's
    * spirit over the retail view). Line counts and fixed-point
    * revenue per directed country pair.
    *
    * Scale shape: the fact joins the two country dims on their keys
    * (broadcasts at test SF; co-partitioned hash joins at 100 TB),
    * then one partial-aggregating groupBy to a |nations|²-bounded
    * cell table — the matrix never exceeds catalog size. */
  def nationTrade(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customers(spark, dir)
      .select(col("customer_id"), col("country").as("cust_country"))
    val stores = Tables.stores(spark, dir)
      .select(col("store_id"), col("country").as("store_country"))
    Tables.sales(spark, dir)
      .join(cust, "customer_id")
      .join(stores, "store_id")
      .groupBy("cust_country", "store_country")
      .agg(count(lit(1)).as("n_lines"),
        moneySum(col("unit_price") * col("quantity")).as("revenue"))
      .select(col("cust_country"), col("store_country"), col("n_lines"),
        col("revenue"),
        (col("cust_country") === col("store_country")).as("is_domestic"))
      .orderBy("cust_country", "store_country")
  }

  /** `gold_price_index`: Laspeyres monthly price index — the cost of
    * the BASE month's basket (first calendar month in the corpus, its
    * per-product quantities frozen as weights) repriced at each later
    * month's average unit prices, over the matched sample of products
    * present in both. The corpus-level inflation series read next to
    * [[priceSlope]] (per-product trend) and [[seasonality]] (volume
    * calendar): "are prices as a whole drifting, holding the basket
    * fixed?".
    *
    * Determinism: per-(product, month) average price derives from an
    * exact fixed-point price sum over an exact line count (one IEEE
    * division); each month's basket cost is a [[moneySum]] of
    * avg-price × base-quantity doubles (identical expression both
    * engines); the index is one final division. Scale shape: one
    * partial-aggregating groupBy to product×month cells
    * (checkpointed — the base join re-reads it), a broadcast 1-row
    * base-month selector, an equi-join on product, and a
    * month-catalog-sized rollup. */
  def priceIndex(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(28, 0)
    val pm = Tables.sales(spark, dir)
      .select(col("product_id"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).as("ym"),
        col("unit_price"), col("quantity"))
      .groupBy("product_id", "ym")
      .agg(sum(floor(col("unit_price") * lit(10000)).cast(dec)).as("p_i"),
        count(lit(1)).as("n_lines"),
        sum(col("quantity")).as("qty"))
      .select(col("product_id"), col("ym"),
        (col("p_i").cast("double") / 10000 / col("n_lines").cast("double"))
          .as("p_avg"),
        col("qty"))
      .localCheckpoint()
    val baseYm = pm.agg(min(col("ym")).as("ym0"))
    val base = pm.join(broadcast(baseYm), col("ym") === col("ym0"))
      .select(col("product_id"), col("p_avg").as("p0"), col("qty").as("q0"))
    pm.join(base, "product_id")
      .groupBy("ym")
      .agg(count(lit(1)).as("n_products"),
        moneySum(col("p_avg") * col("q0").cast("double")).as("basket_cost"),
        moneySum(col("p0") * col("q0").cast("double")).as("base_cost"))
      .select(
        make_date(expr("ym DIV 12"), col("ym") % 12 + 1, lit(1)).as("month"),
        col("n_products"), col("basket_cost"), col("base_cost"),
        (col("basket_cost") / col("base_cost")).as("price_index"))
      .orderBy("month")
  }

  // ---- DuckDB oracles (same math; fixed-point sums are exact in both) ----

  val defs: Seq[QueryDef] = Seq(
    QueryDef("gold_price_index", priceIndex,
      s"""WITH ${Tables.salesCte},
         |pm AS (SELECT product_id,
         |              YEAR(sale_ts)*12 + MONTH(sale_ts) - 1 AS ym,
         |              CAST(SUM(CAST(FLOOR(unit_price*10000) AS DECIMAL(28,0)))
         |                   AS DOUBLE)/10000 / CAST(COUNT(*) AS DOUBLE) AS p_avg,
         |              CAST(SUM(quantity) AS BIGINT) AS qty
         |       FROM sales GROUP BY 1, 2),
         |b AS (SELECT product_id, p_avg AS p0, qty AS q0
         |      FROM pm WHERE ym = (SELECT MIN(ym) FROM pm)),
         |g AS (SELECT ym, COUNT(*) AS n_products,
         |             ${moneySumSql("p_avg * CAST(q0 AS DOUBLE)")} AS basket_cost,
         |             ${moneySumSql("p0 * CAST(q0 AS DOUBLE)")} AS base_cost
         |      FROM pm JOIN b USING (product_id) GROUP BY 1)
         |SELECT make_date(CAST(ym // 12 AS INT), CAST(ym % 12 + 1 AS INT), 1)
         |         AS month,
         |       n_products, basket_cost, base_cost,
         |       basket_cost / base_cost AS price_index
         |FROM g ORDER BY month""".stripMargin),
    QueryDef("gold_segment_sales", segmentSales,
      s"""WITH ${Tables.salesCte},
         |${Tables.customersCte},
         |g AS (SELECT c.city, YEAR(sale_ts)*12 + MONTH(sale_ts) - 1 AS ym,
         |             COUNT(DISTINCT transaction_id // 10) AS n_orders,
         |             COUNT(DISTINCT s.customer_id) AS n_customers,
         |             ${moneySumSql("unit_price*quantity")} AS revenue
         |      FROM sales s JOIN customers c USING (customer_id)
         |      GROUP BY 1, 2)
         |SELECT city AS segment,
         |       make_date(CAST(ym // 12 AS INT), CAST(ym % 12 + 1 AS INT), 1)
         |         AS month,
         |       n_orders, n_customers, revenue,
         |       revenue / CAST(n_orders AS DOUBLE) AS rev_per_order
         |FROM g ORDER BY segment, month""".stripMargin),
    QueryDef("gold_nation_trade", nationTrade,
      s"""WITH ${Tables.salesCte},
         |${Tables.customersCte},
         |${Tables.storesCte}
         |SELECT c.country AS cust_country, st.country AS store_country,
         |       COUNT(*) AS n_lines,
         |       ${moneySumSql("unit_price*quantity")} AS revenue,
         |       c.country = st.country AS is_domestic
         |FROM sales s
         |JOIN customers c USING (customer_id)
         |JOIN stores st USING (store_id)
         |GROUP BY 1, 2
         |ORDER BY cust_country, store_country""".stripMargin),
    QueryDef("gold_revenue_autocorr", revenueAutocorr,
      s"""WITH ${Tables.salesCte},
         |m AS (SELECT YEAR(sale_ts)*12 + MONTH(sale_ts) - 1 AS ym,
         |        CAST(SUM(CAST(FLOOR((unit_price*quantity)*10000)
         |             AS DECIMAL(28,0))) AS BIGINT) // 10000 AS rev_d
         |      FROM sales GROUP BY 1),
         |p AS (SELECT a.rev_d AS x, b.rev_d AS y
         |      FROM m a JOIN m b ON b.ym = a.ym + 1),
         |s AS (SELECT COUNT(*) AS n,
         |        SUM(CAST(x AS DECIMAL(38,0))) AS sx,
         |        SUM(CAST(y AS DECIMAL(38,0))) AS sy,
         |        SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
         |            AS DECIMAL(38,0))) AS sxy,
         |        SUM(CAST(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))
         |            AS DECIMAL(38,0))) AS sxx,
         |        SUM(CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
         |            AS DECIMAL(38,0))) AS syy
         |      FROM p)
         |SELECT n AS n_pairs,
         |       (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |         / SQRT((n * CAST(sxx AS DOUBLE)
         |                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |                * (n * CAST(syy AS DOUBLE)
         |                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |         AS autocorr
         |FROM s""".stripMargin),
    QueryDef("gold_assortment_overlap", assortmentOverlap,
      s"""WITH ${Tables.salesCte},
         |sp AS (SELECT DISTINCT store_id, product_id FROM sales),
         |per AS (SELECT store_id, COUNT(*) AS n FROM sp GROUP BY 1),
         |p AS (SELECT a.store_id AS store_a, b.store_id AS store_b,
         |             COUNT(*) AS n_common
         |      FROM sp a JOIN sp b
         |        ON a.product_id = b.product_id AND a.store_id < b.store_id
         |      GROUP BY 1, 2)
         |SELECT p.store_a, p.store_b, p.n_common,
         |       pa.n AS n_a, pb.n AS n_b,
         |       CAST(p.n_common AS DOUBLE)
         |         / CAST(pa.n + pb.n - p.n_common AS DOUBLE) AS jaccard,
         |       CAST(p.n_common AS DOUBLE) / CAST(pa.n AS DOUBLE)
         |         AS containment_a,
         |       CAST(p.n_common AS DOUBLE) / CAST(pb.n AS DOUBLE)
         |         AS containment_b
         |FROM p JOIN per pa ON pa.store_id = p.store_a
         |       JOIN per pb ON pb.store_id = p.store_b
         |ORDER BY store_a, store_b""".stripMargin),
    QueryDef("gold_inventory_turnover", inventoryTurnover,
      s"""WITH ${Tables.salesCte},
         |led AS (SELECT store_id, product_id,
         |          CAST(SUM(quantity) AS BIGINT) AS units,
         |          COUNT(*) AS n_mv,
         |          MIN(YEAR(sale_ts)*12 + MONTH(sale_ts) - 1) AS ym0,
         |          MAX(YEAR(sale_ts)*12 + MONTH(sale_ts) - 1) AS ym1
         |        FROM sales GROUP BY 1, 2),
         |sp AS (SELECT store_id,
         |         CAST(MAX(ym1) - MIN(ym0) + 1 AS BIGINT) AS span_months
         |       FROM led GROUP BY 1)
         |SELECT l.store_id, COUNT(*) AS n_products,
         |       CAST(SUM(l.units) AS BIGINT) AS units_sold, sp.span_months,
         |       CAST(SUM(l.units) AS DOUBLE)
         |         / (CAST(COUNT(*) AS DOUBLE) * CAST(sp.span_months AS DOUBLE))
         |         AS units_per_product_month,
         |       CAST(SUM(CASE WHEN l.n_mv < sp.span_months THEN 1 ELSE 0 END)
         |              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS slow_mover_share
         |FROM led l JOIN sp USING (store_id)
         |GROUP BY l.store_id, sp.span_months ORDER BY store_id""".stripMargin),
    QueryDef("gold_first_purchase_category", firstPurchaseCategory,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |r AS (SELECT customer_id, sale_ts, product_id,
         |             ROW_NUMBER() OVER (PARTITION BY customer_id
         |               ORDER BY sale_ts, transaction_id, product_id) AS rn
         |      FROM sales),
         |f AS (SELECT customer_id, sale_ts AS first_ts, product_id
         |      FROM r WHERE rn = 1),
         |g AS (SELECT year(first_ts)*12 + month(first_ts) - 1 AS ym,
         |             p.category, COUNT(*) AS n_new_customers
         |      FROM f JOIN products p USING (product_id)
         |      GROUP BY 1, 2)
         |SELECT make_date(CAST(ym // 12 AS INT), CAST(ym % 12 + 1 AS INT), 1)
         |         AS cohort_month,
         |       category, n_new_customers
         |FROM g ORDER BY cohort_month, category""".stripMargin),
    QueryDef("gold_category_hhi", categoryHhi,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |rev AS (
         |  SELECT p.category, p.sku,
         |         SUM(CAST(FLOOR(s.unit_price*s.quantity*10000) AS DECIMAL(28,0)))
         |           AS rev_i
         |  FROM sales s JOIN products p USING (product_id)
         |  GROUP BY 1, 2),
         |g AS (SELECT category, COUNT(*) AS n_brands,
         |             SUM(rev_i) AS tot,
         |             SUM(CAST(rev_i AS DECIMAL(19,0)) * CAST(rev_i AS DECIMAL(19,0)))
         |               AS sq
         |      FROM rev GROUP BY 1)
         |SELECT category, n_brands,
         |       CAST(tot AS DOUBLE)/10000 AS category_revenue,
         |       CAST(sq AS DOUBLE)/(CAST(tot AS DOUBLE)*CAST(tot AS DOUBLE)) AS hhi
         |FROM g ORDER BY category""".stripMargin),
    QueryDef("gold_aov_monthly", aovMonthly,
      s"""WITH ${Tables.salesCte},
         |m AS (SELECT year(sale_ts)*12 + month(sale_ts) - 1 AS ym,
         |             COUNT(DISTINCT transaction_id // 10) AS n_orders,
         |             SUM(CAST(FLOOR(unit_price*quantity*10000) AS DECIMAL(28,0)))
         |               AS rev_i
         |      FROM sales GROUP BY 1),
         |a AS (SELECT ym, n_orders, rev_i,
         |             CAST(rev_i AS DOUBLE)/10000/CAST(n_orders AS DOUBLE) AS aov
         |      FROM m)
         |SELECT make_date(CAST(x.ym // 12 AS INT), CAST(x.ym % 12 + 1 AS INT), 1)
         |         AS month,
         |       x.n_orders, CAST(x.rev_i AS DOUBLE)/10000 AS revenue, x.aov,
         |       x.aov - p.aov AS mom_delta
         |FROM a x LEFT JOIN a p ON x.ym = p.ym + 1
         |ORDER BY month""".stripMargin),
    QueryDef("gold_top_movers", topMovers,
      s"""WITH ${Tables.salesCte},
         |s AS (SELECT product_id,
         |             date_diff('day', DATE '1970-01-01', CAST(sale_ts AS DATE)) AS eday,
         |             unit_price, quantity
         |      FROM sales),
         |m AS (SELECT (MIN(eday) + MAX(eday)) // 2 AS mid FROM s),
         |g AS (SELECT product_id,
         |        SUM(CASE WHEN eday <= mid
         |                 THEN CAST(FLOOR(unit_price*quantity*10000) AS DECIMAL(28,0))
         |                 ELSE 0 END) AS h1_i,
         |        SUM(CASE WHEN eday > mid
         |                 THEN CAST(FLOOR(unit_price*quantity*10000) AS DECIMAL(28,0))
         |                 ELSE 0 END) AS h2_i
         |      FROM s, m GROUP BY 1)
         |SELECT product_id,
         |       CAST(h1_i AS DOUBLE)/10000 AS h1_revenue,
         |       CAST(h2_i AS DOUBLE)/10000 AS h2_revenue,
         |       CAST(h2_i AS DOUBLE)/CAST(h1_i AS DOUBLE) AS growth_ratio
         |FROM g WHERE h1_i > 0 AND h2_i > 0
         |ORDER BY growth_ratio DESC, product_id LIMIT $MoversK""".stripMargin),
    QueryDef("gold_also_bought", alsoBought,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |b AS (SELECT DISTINCT transaction_id // 10 AS basket_id, sku
         |      FROM sales JOIN products USING (product_id)),
         |nb AS (SELECT COUNT(DISTINCT basket_id) AS n_baskets FROM b),
         |per AS (SELECT sku, COUNT(*) AS n_sku FROM b GROUP BY 1),
         |pr AS (SELECT a.sku AS sku_a, c.sku AS sku_b, COUNT(*) AS n_ab
         |       FROM b a JOIN b c ON a.basket_id = c.basket_id AND a.sku < c.sku
         |       GROUP BY 1, 2),
         |aff AS (SELECT sku_a, sku_b, n_ab,
         |               (CAST(n_ab AS DOUBLE)*CAST(n_baskets AS DOUBLE))
         |                 /(CAST(pa.n_sku AS DOUBLE)*CAST(pb.n_sku AS DOUBLE)) AS lift
         |        FROM pr JOIN per pa ON sku_a = pa.sku
         |                JOIN per pb ON sku_b = pb.sku
         |        CROSS JOIN nb),
         |sym AS (SELECT sku_a AS sku, sku_b AS partner, n_ab, lift FROM aff
         |        UNION ALL
         |        SELECT sku_b, sku_a, n_ab, lift FROM aff),
         |r AS (SELECT sku, partner, n_ab, lift,
         |             ROW_NUMBER() OVER (PARTITION BY sku
         |               ORDER BY lift DESC, partner) AS rn
         |      FROM sym)
         |SELECT sku, CAST(rn AS INT) AS rn, partner, n_ab, lift
         |FROM r WHERE rn <= $AlsoBoughtK ORDER BY sku, rn""".stripMargin),
    QueryDef("gold_stockout", stockoutRisk,
      s"""WITH ${Tables.salesCte},
         |led AS (
         |  SELECT store_id, product_id, COUNT(*) AS n_movements,
         |         MIN(CAST(sale_ts AS DATE)) AS first_movement_date,
         |         MAX(CAST(sale_ts AS DATE)) AS last_movement_date
         |  FROM sales GROUP BY 1, 2),
         |g AS (SELECT MAX(last_movement_date) AS gmax FROM led)
         |SELECT store_id, product_id, n_movements, last_movement_date,
         |       CAST(date_diff('day', last_movement_date, gmax) AS BIGINT)
         |         AS stale_days,
         |       CAST(date_diff('day', first_movement_date, last_movement_date)
         |         AS BIGINT) AS span_days,
         |       CASE WHEN n_movements >= 2
         |            THEN (n_movements - 1)
         |                   * date_diff('day', last_movement_date, gmax)
         |                 > date_diff('day', first_movement_date, last_movement_date) * 3
         |            ELSE date_diff('day', last_movement_date, gmax) > $StockoutColdDays
         |       END AS stockout_risk
         |FROM led, g ORDER BY store_id, product_id""".stripMargin),
    QueryDef("gold_seasonality", seasonality,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |cm AS (
         |  SELECT p.category, CAST(month(sale_ts) AS INT) AS mth,
         |         COUNT(*) AS n_sales,
         |         SUM(CAST(FLOOR(unit_price*quantity*10000) AS DECIMAL(28,0))) AS rev_i
         |  FROM sales s JOIN products p USING (product_id)
         |  GROUP BY 1, 2),
         |t AS (SELECT category, SUM(rev_i) AS cat_i FROM cm GROUP BY 1)
         |SELECT cm.category, mth, n_sales,
         |       CAST(rev_i AS DOUBLE)/10000 AS revenue,
         |       CAST(rev_i*12 AS DOUBLE)/CAST(cat_i AS DOUBLE) AS seasonality_index
         |FROM cm JOIN t USING (category)
         |ORDER BY cm.category, mth""".stripMargin),
    QueryDef("gold_returns", returnsByCategory,
      s"""WITH ${Tables.productsCte},
         |li AS (SELECT l_partkey AS product_id, l_returnflag,
         |              CAST(FLOOR(l_quantity) AS BIGINT) AS qty, l_extendedprice
         |       FROM lineitem)
         |SELECT p.category, COUNT(*) AS n_lines,
         |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_returned,
         |       CAST(SUM(qty) AS BIGINT) AS total_qty,
         |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN qty ELSE 0 END) AS BIGINT)
         |         AS returned_qty,
         |       ${moneySumSql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END")}
         |         AS returned_revenue,
         |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS return_rate
         |FROM li JOIN products p USING (product_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("gold_discount_impact", discountImpact,
      s"""WITH ${Tables.productsCte},
         |li AS (SELECT l_partkey AS product_id, l_extendedprice, l_discount, l_tax
         |       FROM lineitem),
         |g AS (SELECT p.category, COUNT(*) AS n_lines,
         |             ${moneySumSql("l_extendedprice")} AS gross_revenue,
         |             ${moneySumSql("l_extendedprice*l_discount")} AS discount_amount,
         |             ${moneySumSql("l_extendedprice*(1.0-l_discount)")} AS net_revenue,
         |             ${moneySumSql("l_extendedprice*(1.0-l_discount)*l_tax")} AS tax_amount
         |      FROM li JOIN products p USING (product_id) GROUP BY 1)
         |SELECT category, n_lines, gross_revenue, discount_amount, net_revenue,
         |       tax_amount, discount_amount/gross_revenue AS effective_discount_rate
         |FROM g ORDER BY category""".stripMargin),
    QueryDef("gold_order_value_histogram", orderValueHistogram,
      s"""WITH b AS (SELECT o_totalprice,
         |             CAST(FLOOR(o_totalprice/$OrderValueBucket.0) AS BIGINT) AS bucket
         |           FROM orders)
         |SELECT bucket, CAST(bucket*$OrderValueBucket AS DOUBLE) AS bucket_lo,
         |       COUNT(*) AS n_orders,
         |       MIN(o_totalprice) AS min_total, MAX(o_totalprice) AS max_total,
         |       ${moneySumSql("o_totalprice")} AS bucket_revenue
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),
    QueryDef("gold_snaive_backtest", snaiveBacktest,
      s"""WITH ${Tables.salesCte},
         |${Tables.productsCte},
         |rev AS (SELECT p.category,
         |               year(sale_ts)*12 + month(sale_ts) - 1 AS ym,
         |               CAST(SUM(CAST(FLOOR((unit_price*quantity)*10000)
         |                 AS DECIMAL(28,0))) AS BIGINT) AS rev_i
         |        FROM sales s JOIN products p USING (product_id)
         |        GROUP BY 1, 2),
         |j AS (SELECT a.category, a.rev_i, b.rev_i AS pred_i
         |      FROM rev a JOIN rev b
         |        ON a.category = b.category AND a.ym = b.ym + 12)
         |SELECT category, COUNT(*) AS n_backtest_months,
         |       CAST(SUM(CAST(ABS(rev_i - pred_i) AS DECIMAL(38,0)))
         |         AS DOUBLE) / 10000 / CAST(COUNT(*) AS DOUBLE) AS mae,
         |       CAST(SUM(CAST(ABS(rev_i - pred_i) AS DECIMAL(38,0)))
         |         AS DOUBLE)
         |         / CAST(SUM(CAST(rev_i AS DECIMAL(38,0))) AS DOUBLE) AS wape
         |FROM j GROUP BY 1 ORDER BY category""".stripMargin),
    QueryDef("gold_xyz_class", xyzClass,
      s"""WITH ${Tables.salesCte},
         |pm AS (SELECT product_id, year(sale_ts)*12 + month(sale_ts) - 1 AS ym,
         |              CAST(SUM(quantity) AS BIGINT) AS q
         |       FROM sales GROUP BY 1, 2),
         |p AS (SELECT product_id, COUNT(*) AS n_months,
         |             CAST(SUM(q) AS BIGINT) AS s1,
         |             CAST(SUM(q*q) AS BIGINT) AS s2
         |      FROM pm GROUP BY 1)
         |SELECT product_id, n_months, s1 AS total_qty,
         |       sqrt(CAST(n_months*s2 - s1*s1 AS DOUBLE)) / CAST(s1 AS DOUBLE)
         |         AS demand_cv,
         |       CASE WHEN sqrt(CAST(n_months*s2 - s1*s1 AS DOUBLE))
         |                   / CAST(s1 AS DOUBLE) < 0.5 THEN 'X'
         |            WHEN sqrt(CAST(n_months*s2 - s1*s1 AS DOUBLE))
         |                   / CAST(s1 AS DOUBLE) < 1.0 THEN 'Y'
         |            ELSE 'Z' END AS xyz_class
         |FROM p ORDER BY product_id""".stripMargin),
    QueryDef("gold_market_share", marketShare,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |rev AS (
         |  SELECT p.category, p.sku, COUNT(*) AS n_sales,
         |         SUM(CAST(FLOOR(s.unit_price*s.quantity*10000) AS DECIMAL(28,0)))
         |           AS rev_i
         |  FROM sales s JOIN products p USING (product_id)
         |  GROUP BY 1, 2),
         |ct AS (SELECT category, SUM(rev_i) AS cat_i FROM rev GROUP BY 1)
         |SELECT rev.category, rev.sku, rev.n_sales,
         |       CAST(rev_i AS DOUBLE)/10000 AS revenue,
         |       CAST(cat_i AS DOUBLE)/10000 AS category_revenue,
         |       CAST(rev_i AS DOUBLE)/CAST(cat_i AS DOUBLE) AS share
         |FROM rev JOIN ct USING (category)
         |ORDER BY rev.category, rev.sku""".stripMargin),
    QueryDef("gold_new_vs_returning", newVsReturning,
      s"""WITH ${Tables.salesCte},
         |cm AS (
         |  SELECT customer_id,
         |         year(sale_ts)*12 + month(sale_ts) - 1 AS ym,
         |         SUM(CAST(FLOOR(unit_price*quantity*10000) AS DECIMAL(28,0))) AS rev_i
         |  FROM sales GROUP BY 1, 2),
         |f AS (SELECT customer_id, MIN(ym) AS first_ym FROM cm GROUP BY 1)
         |SELECT make_date(CAST(ym // 12 AS INT), CAST(ym % 12 + 1 AS INT), 1) AS month,
         |       CAST(SUM(CASE WHEN ym = first_ym THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_new_customers,
         |       CAST(SUM(CASE WHEN ym = first_ym THEN 0 ELSE 1 END) AS BIGINT)
         |         AS n_returning_customers,
         |       CAST(SUM(CASE WHEN ym = first_ym THEN rev_i ELSE 0 END) AS DOUBLE)/10000
         |         AS new_revenue,
         |       CAST(SUM(CASE WHEN ym = first_ym THEN 0 ELSE rev_i END) AS DOUBLE)/10000
         |         AS returning_revenue
         |FROM cm JOIN f USING (customer_id)
         |GROUP BY ym ORDER BY month""".stripMargin),
    QueryDef("gold_repeat_rate", repeatRate,
      """WITH o AS (SELECT o_custkey AS customer_id,
        |             CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS BIGINT) AS ym
        |           FROM orders),
        |c AS (SELECT ym, customer_id, COUNT(*) AS n FROM o GROUP BY 1, 2)
        |SELECT make_date(CAST(ym // 12 AS INT), CAST(ym % 12 + 1 AS INT), 1) AS month,
        |       COUNT(*) AS n_customers,
        |       CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
        |       CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS repeat_rate
        |FROM c GROUP BY ym ORDER BY month""".stripMargin),
    QueryDef("gold_abc_class", abcClass,
      s"""WITH ${Tables.salesCte},
         |r AS (SELECT product_id,
         |        CAST(SUM(CAST(FLOOR((unit_price*quantity)*10000) AS DECIMAL(28,0)))
         |          AS BIGINT) AS rev_i
         |      FROM sales GROUP BY 1),
         |c AS (SELECT product_id, rev_i,
         |        SUM(CAST(rev_i AS DECIMAL(38,0)))
         |          OVER (ORDER BY rev_i DESC, product_id) AS cum,
         |        SUM(CAST(rev_i AS DECIMAL(38,0))) OVER () AS total
         |      FROM r)
         |SELECT product_id, CAST(rev_i AS DOUBLE)/10000 AS revenue,
         |       CAST(cum AS DOUBLE)/10000 AS cum_revenue,
         |       CASE WHEN cum*5 <= total*4 THEN 'A'
         |            WHEN cum*20 <= total*19 THEN 'B' ELSE 'C' END AS abc_class
         |FROM c ORDER BY product_id""".stripMargin),
    QueryDef("gold_order_gap", orderGaps,
      s"""WITH ${Tables.salesCte},
         |cd AS (SELECT DISTINCT customer_id, CAST(sale_ts AS DATE) AS sale_date
         |       FROM sales),
         |l AS (SELECT customer_id,
         |             date_diff('day',
         |               LAG(sale_date) OVER (PARTITION BY customer_id
         |                                    ORDER BY sale_date),
         |               sale_date) AS gap_days
         |      FROM cd)
         |SELECT CAST(gap_days AS BIGINT) AS gap_days, COUNT(*) AS n_gaps,
         |       COUNT(DISTINCT customer_id) AS n_customers
         |FROM l WHERE gap_days IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("gold_price_slope", priceSlope,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |s AS (SELECT category,
         |             CAST(FLOOR(unit_price*10000) AS HUGEINT) AS x,
         |             CAST(quantity AS HUGEINT) AS y
         |      FROM sales JOIN products USING (product_id)),
         |a AS (SELECT category, CAST(COUNT(*) AS DOUBLE) AS n,
         |             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |             CAST(SUM(x*y) AS DOUBLE) AS sxy,
         |             CAST(SUM(x*x) AS DOUBLE) AS sxx,
         |             COUNT(*) AS nb
         |      FROM s GROUP BY 1)
         |SELECT category, nb AS n_sales,
         |       sy/n AS mean_qty,
         |       CASE WHEN n*sxx - sx*sx = 0 THEN NULL
         |            ELSE (n*sxy - sx*sy)/(n*sxx - sx*sx)*10000
         |       END AS slope
         |FROM a ORDER BY category""".stripMargin),
    QueryDef("gold_basket_affinity", basketAffinity,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |b AS (SELECT DISTINCT transaction_id // 10 AS basket_id, sku
         |      FROM sales JOIN products USING (product_id)),
         |nb AS (SELECT COUNT(DISTINCT basket_id) AS n_baskets FROM b),
         |per AS (SELECT sku, COUNT(*) AS n_sku FROM b GROUP BY 1),
         |pr AS (SELECT a.sku AS sku_a, c.sku AS sku_b, COUNT(*) AS n_ab
         |       FROM b a JOIN b c ON a.basket_id = c.basket_id AND a.sku < c.sku
         |       GROUP BY 1, 2)
         |SELECT sku_a, sku_b, n_ab, pa.n_sku AS n_a, pb.n_sku AS n_b,
         |       CAST(n_ab AS DOUBLE)/CAST(n_baskets AS DOUBLE) AS support,
         |       (CAST(n_ab AS DOUBLE)*CAST(n_baskets AS DOUBLE))
         |         /(CAST(pa.n_sku AS DOUBLE)*CAST(pb.n_sku AS DOUBLE)) AS lift
         |FROM pr JOIN per pa ON sku_a = pa.sku JOIN per pb ON sku_b = pb.sku
         |CROSS JOIN nb
         |ORDER BY sku_a, sku_b""".stripMargin),
    QueryDef("gold_cohort_ltv", cohortLtv,
      s"""WITH ${Tables.salesCte},
         |s AS (SELECT customer_id,
         |             CAST(year(sale_ts)*12 + month(sale_ts) - 1 AS BIGINT) AS ym,
         |             unit_price*quantity AS amount
         |      FROM sales),
         |f AS (SELECT customer_id, MIN(ym) AS cohort_ym FROM s GROUP BY 1)
         |SELECT make_date(CAST(cohort_ym // 12 AS INT),
         |                 CAST(cohort_ym % 12 + 1 AS INT), 1) AS cohort_month,
         |       CAST(ym - cohort_ym AS INT) AS month_offset,
         |       COUNT(DISTINCT customer_id) AS active_customers,
         |       COUNT(*) AS n_sales,
         |       ${moneySumSql("amount")} AS revenue
         |FROM s JOIN f USING (customer_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("gold_daily_sales_summary", dailySalesSummary,
      s"""WITH ${Tables.salesCte}
         |SELECT CAST(sale_ts AS DATE) AS sale_date,
         |       COUNT(transaction_id) AS total_orders,
         |       CAST(SUM(quantity) AS BIGINT) AS total_items,
         |       CAST(SUM(CAST(FLOOR((unit_price*quantity)*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000 AS revenue
         |FROM sales
         |WHERE CAST(sale_ts AS DATE) IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("gold_top_customers", topCustomers,
      s"""WITH ${Tables.salesCte}, ${Tables.customersCte},
         |spend AS (
         |  SELECT customer_id,
         |         COUNT(transaction_id) AS order_count,
         |         CAST(SUM(quantity) AS BIGINT) AS total_items,
         |         CAST(SUM(CAST(FLOOR((unit_price*quantity)*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000 AS total_spent
         |  FROM sales GROUP BY 1)
         |SELECT s.customer_id, s.order_count, s.total_items, s.total_spent,
         |       c.customer_name, c.city, c.country, c.acctbal
         |FROM spend s LEFT JOIN customers c USING (customer_id)
         |ORDER BY s.total_spent DESC, s.customer_id LIMIT 10""".stripMargin),
    QueryDef("gold_product_performance", productPerformance,
      s"""WITH ${Tables.salesCte}, ${Tables.productsCte},
         |perf AS (
         |  SELECT product_id,
         |         COUNT(transaction_id) AS times_sold,
         |         CAST(SUM(quantity) AS BIGINT) AS total_quantity,
         |         CAST(SUM(CAST(FLOOR(unit_price*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000
         |           / COUNT(transaction_id) AS avg_price
         |  FROM sales GROUP BY 1)
         |SELECT f.product_id, f.times_sold, f.total_quantity, f.avg_price,
         |       p.product_name, p.sku, p.category, p.price
         |FROM perf f LEFT JOIN products p USING (product_id)
         |ORDER BY f.times_sold DESC, f.product_id""".stripMargin),
    QueryDef("gold_store_performance", storePerformance,
      s"""WITH ${Tables.salesCte}, ${Tables.storesCte},
         |perf AS (
         |  SELECT store_id,
         |         COUNT(transaction_id) AS total_transactions,
         |         CAST(SUM(quantity) AS BIGINT) AS total_items,
         |         CAST(SUM(CAST(FLOOR((unit_price*quantity)*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000 AS total_revenue
         |  FROM sales GROUP BY 1)
         |SELECT f.store_id, f.total_transactions, f.total_items, f.total_revenue,
         |       s.store_name, s.country
         |FROM perf f LEFT JOIN stores s USING (store_id)
         |ORDER BY f.store_id""".stripMargin),
    QueryDef("src_inventory", inventoryView,
      s"""WITH ${Tables.salesCte}, ${Tables.inventoryCte}
         |SELECT store_id, product_id, units_sold, n_movements,
         |       last_movement_date
         |FROM inventory ORDER BY store_id, product_id""".stripMargin),
    QueryDef("gold_manager_revenue", managerRevenue,
      s"""WITH ${Tables.salesCte}, ${Tables.storesCte}, ${Tables.salesManagersCte}
         |SELECT m.manager_id, m.manager_name, m.region,
         |       COUNT(DISTINCT t.store_id) AS n_stores,
         |       COUNT(t.transaction_id) AS n_sales,
         |       ${moneySumSql("t.unit_price*t.quantity")} AS revenue
         |FROM sales t
         |JOIN stores s USING (store_id)
         |JOIN sales_managers m USING (country)
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, manager_id""".stripMargin),
    QueryDef("gold_rfm", rfmSegments, {
      val qs = Seq(20, 40, 60, 80)
      val b =
        (qs.map(q => fixedRoundSql(s"quantile_cont(recency_days, 0.$q)", 4) +
          s" AS r$q") ++
         qs.map(q => fixedRoundSql(s"quantile_cont(frequency, 0.$q)", 4) +
           s" AS f$q") ++
         qs.map(q => fixedRoundSql(s"quantile_cont(monetary, 0.$q)", 4) +
           s" AS m$q")).mkString(",\n       ")
      def sc(m: String, p: String, op: String) = qs
        .map(q => s"(CASE WHEN $m $op $p$q THEN 1 ELSE 0 END)")
        .mkString("1 + ", " + ", "")
      val (rs, fs, ms) =
        (sc("recency_days", "r", "<"), sc("frequency", "f", ">"),
          sc("monetary", "m", ">"))
      s"""WITH ${Tables.salesCte},
         |per AS (
         |  SELECT customer_id, MAX(CAST(sale_ts AS DATE)) AS last_date,
         |         COUNT(transaction_id) AS frequency,
         |         ${moneySumSql("unit_price*quantity")} AS monetary
         |  FROM sales GROUP BY 1),
         |g AS (SELECT MAX(last_date) AS gmax FROM per),
         |met AS (
         |  SELECT customer_id,
         |         CAST(date_diff('day', last_date, gmax) AS BIGINT) AS recency_days,
         |         CAST(frequency AS BIGINT) AS frequency, monetary
         |  FROM per, g),
         |b AS (SELECT $b FROM met),
         |s AS (
         |  SELECT customer_id, recency_days, frequency, monetary,
         |         $rs AS r_score, $fs AS f_score, $ms AS m_score
         |  FROM met, b)
         |SELECT customer_id, recency_days, frequency, monetary,
         |       CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
         |       CAST(m_score AS INT) AS m_score,
         |       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
         |              THEN 'champion'
         |            WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
         |            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
         |            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
         |            ELSE 'regular' END AS segment
         |FROM s ORDER BY customer_id""".stripMargin
    }))
}
