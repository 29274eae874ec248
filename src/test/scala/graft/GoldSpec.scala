package graft

import org.apache.spark.sql.functions._
import graft.operators.{Athena, DataQuality, Gold}
import graft.sources.Tables

class GoldSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("daily sales totals reconcile with the fact table") {
    val daily = Gold.dailySalesSummary(spark, sfDir)
    val totalOrders = daily.agg(sum("total_orders")).head.getLong(0)
    val lineCount = Tables.table(spark, sfDir, "lineitem").count()
    assert(totalOrders == lineCount)
  }

  test("top customers is at most 10, sorted by spend desc") {
    val top = Gold.topCustomers(spark, sfDir).collect()
    assert(top.length <= 10)
    val spends = top.map(_.getAs[Double]("total_spent"))
    assert(spends.sameElements(spends.sortBy(-_)))
  }

  test("product performance covers every sold product") {
    val perf = Gold.productPerformance(spark, sfDir)
    val sold = Tables.sales(spark, sfDir).select("product_id").distinct().count()
    assert(perf.count() == sold)
  }

  test("store performance revenue reconciles with daily revenue") {
    val byStore = Gold.storePerformance(spark, sfDir)
      .agg(sum("total_revenue")).head.getDouble(0)
    val byDay = Gold.dailySalesSummary(spark, sfDir)
      .agg(sum("revenue")).head.getDouble(0)
    assert(math.abs(byStore - byDay) < 1.0)
  }

  test("popularity score is 1.0 for the most-sold product") {
    val top = Athena.productAnalysis(spark, sfDir).head()
    assert(top.getAs[Double]("popularity_score") == 1.0)
  }

  test("gold dimension joins are broadcast, not shuffled") {
    val plan = Gold.topCustomers(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("rolling revenue equals the window-frame formulation, without a Window node") {
    import org.apache.spark.sql.expressions.Window
    val rolled = Athena.rollingRevenue(spark, sfDir)
    // reference formulation: a global range window over the daily rollup
    val daily = Gold.dailySalesSummary(spark, sfDir).select("sale_date", "revenue")
      .withColumn("d", datediff(col("sale_date"), lit("1970-01-01").cast("date")))
    val w = Window.orderBy("d").rangeBetween(-6, 0)
    val windowed = daily
      .select(col("sale_date"), col("revenue"),
        count(lit(1)).over(w).as("n_days"),
        (sum(floor(col("revenue") * 10000)
          .cast(org.apache.spark.sql.types.DecimalType(28, 0))).over(w)
          .cast("double") / 10000.0).as("rev_7d_sum"))
      .withColumn("rev_7d_avg", col("rev_7d_sum") / col("n_days"))
      .drop("d")
    assert(rolled.exceptAll(windowed).isEmpty && windowed.exceptAll(rolled).isEmpty)
    val plan = rolled.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "rolling revenue must not use a global window")
  }

  test("top products per category match the window formulation, no window sort") {
    import org.apache.spark.sql.expressions.Window
    val top = Athena.topProductsPerCategory(spark, sfDir)
    val windowed = Gold.productPerformance(spark, sfDir)
      .where(col("category").isNotNull)
      .withColumn("rn", row_number().over(Window.partitionBy("category")
        .orderBy(col("times_sold").desc, col("product_id"))))
      .where(col("rn") <= Athena.TopPerCategory)
      .select(col("category"), col("rn").cast("int").as("rn"),
        col("product_id"), col("times_sold"))
    assert(top.exceptAll(windowed).isEmpty && windowed.exceptAll(top).isEmpty)
    assert(!top.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("pivot cells reconcile with per-category revenue") {
    val piv = Athena.categoryMonthPivot(spark, sfDir).collect()
    val catRev = Tables.sales(spark, sfDir)
      .join(broadcast(Tables.products(spark, sfDir).select("product_id", "category")),
        Seq("product_id"))
      .groupBy("category")
      .agg(Gold.moneySum(col("unit_price") * col("quantity")).as("rev"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(piv.nonEmpty)
    piv.foreach { r =>
      val cells = (1 to 12).map(m => f"m$m%02d").map { c =>
        if (r.isNullAt(r.fieldIndex(c))) 0.0 else r.getAs[Double](c)
      }
      // cell sums were floored per-cell at 1e-4; the yearly rollup floors
      // once — allow the accumulated flooring slack (≤ 12 cells * 1e-4)
      assert(math.abs(cells.sum - catRev(r.getAs[String]("category"))) < 12e-4)
    }
  }

  test("rollup reconciles: subtotals and grand total in one Expand pass") {
    val r = Athena.salesRollup(spark, sfDir).collect()
    val leaves = r.filter(row =>
      row.getString(0) != "(all)" && row.getInt(1) != -1)
    val catSub = r.filter(row =>
      row.getString(0) != "(all)" && row.getInt(1) == -1)
    val grand = r.filter(_.getString(0) == "(all)")
    assert(grand.length == 1)
    assert(grand.head.getLong(2) == leaves.map(_.getLong(2)).sum)
    catSub.foreach { s =>
      val cat = s.getString(0)
      assert(s.getLong(2) ==
        leaves.filter(_.getString(0) == cat).map(_.getLong(2)).sum, cat)
    }
    // one aggregate pass: rollup plans as a single Expand, not N groupBys
    val plan = Athena.salesRollup(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan.take(800))
    assert(plan.split("Expand").length == 2, "expected exactly one Expand")
  }

  test("product analysis gets the global max via a 1-row broadcast, not a window") {
    val plan = Athena.productAnalysis(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the 1-row MAX aggregate is broadcast cross-joined back; an
    // unpartitioned window would funnel the whole product aggregate
    // through one partition
    assert(plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("Window"))
  }

  test("month unpivot is the exact long form of the pivot's non-null cells") {
    val piv = Athena.categoryMonthPivot(spark, sfDir).collect()
    val expect = piv.flatMap { r =>
      (1 to 12).flatMap { m =>
        val cell = f"m$m%02d"
        Option(r.getAs[java.lang.Double](cell))
          .map(v => (r.getAs[String]("category"), cell, v.doubleValue))
      }
    }.toSet
    val got = Athena.monthUnpivot(spark, sfDir).collect()
      .map(r => (r.getAs[String]("category"), r.getAs[String]("mth"),
        r.getAs[Double]("revenue"))).toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("rfm scores are 1-5, ~20% per quintile band, segments consistent") {
    import graft.operators.Gold
    val rows = Gold.rfmSegments(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("r_score", "f_score", "m_score").foreach { c =>
        val s = r.getAs[Int](c); assert(s >= 1 && s <= 5, s"$c=$s")
      }
      val (rs, fs, ms) = (r.getAs[Int]("r_score"), r.getAs[Int]("f_score"),
        r.getAs[Int]("m_score"))
      val seg = r.getAs[String]("segment")
      val expect =
        if (rs >= 4 && fs >= 4 && ms >= 4) "champion"
        else if (rs >= 3 && fs >= 3) "loyal"
        else if (rs <= 2 && fs >= 3) "at_risk"
        else if (rs <= 2 && fs <= 2) "hibernating"
        else "regular"
      assert(seg == expect)
    }
    // monetary score 5 band holds the biggest spenders: its min monetary
    // exceeds band 1's max
    val byM = rows.groupBy(_.getAs[Int]("m_score"))
    if (byM.contains(1) && byM.contains(5)) {
      val top = byM(5).map(_.getAs[Double]("monetary")).min
      val bot = byM(1).map(_.getAs[Double]("monetary")).max
      assert(top > bot)
    }
    // every quintile band is populated and roughly balanced on monetary
    // (exact 20% only without ties; integer metrics tie heavily)
    assert((1 to 5).forall(byM.contains))
  }

  test("cdc apply round-trips the snapshot diff back to the new snapshot") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Curation, Silver}
    val cust = graft.sources.Tables.customers(spark, sfDir)
      .select("customer_id", "acctbal")
    val h = Curation.portableHash(col("customer_id")) % 10
    val newSnap = cust.where(h =!= 1)
      .select(col("customer_id"),
        when(h === 0, col("acctbal") + 100.0).otherwise(col("acctbal"))
          .as("acctbal"))
      .unionByName(cust.where(h === 2)
        .select((col("customer_id") + 1000000000L).as("customer_id"),
          col("acctbal")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val applied = Silver.cdcApplyCustomers(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(applied == newSnap)
    assert(applied.nonEmpty)
  }

  test("basket affinity matches a brute-force basket recompute, counts consistent") {
    val got = Gold.basketAffinity(spark, sfDir).collect()
    assert(got.nonEmpty)
    // brute force on the driver: basket → distinct sku set
    val baskets = Tables.sales(spark, sfDir)
      .select(expr("transaction_id DIV 10").as("b"), col("product_id"))
      .join(Tables.products(spark, sfDir).select("product_id", "sku"),
        "product_id")
      .select("b", "sku").collect()
      .groupBy(_.getLong(0)).map { case (b, rs) =>
        b -> rs.map(_.getString(1)).toSet
      }
    val nB = baskets.size.toLong
    val perSku = baskets.values.flatten
      .groupBy(identity).map { case (s, o) => s -> o.size.toLong }
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      val nAb = baskets.values.count(s => s.contains(a) && s.contains(b)).toLong
      assert(r.getAs[Long]("n_ab") == nAb, s"($a,$b) n_ab")
      assert(r.getAs[Long]("n_a") == perSku(a) && r.getAs[Long]("n_b") == perSku(b))
      assert(r.getAs[Double]("support") == nAb.toDouble / nB)
      assert(r.getAs[Double]("lift") ==
        (nAb.toDouble * nB) / (perSku(a).toDouble * perSku(b)))
    }
    // lift must actually discriminate at this scale (not all ~1)
    assert(got.map(_.getAs[Double]("lift")).distinct.length > 10)
  }

  test("cohort ltv: offsets non-negative, cells partition the fact, cohort is the min month") {
    val cells = Gold.cohortLtv(spark, sfDir).collect()
    assert(cells.nonEmpty)
    assert(cells.forall(_.getAs[Int]("month_offset") >= 0))
    val totalSales = cells.map(_.getAs[Long]("n_sales")).sum
    assert(totalSales == Tables.sales(spark, sfDir).count())
    // offset-0 cell of each cohort contains the cohort's full customer
    // count (every customer is active in their own first month)
    val sales = Tables.sales(spark, sfDir)
      .select(col("customer_id"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).as("ym"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val firstYm = sales.groupBy(_._1).map { case (c, rs) => c -> rs.map(_._2).min }
    val cohortSizes = firstYm.values
      .groupBy(identity).map { case (ym, o) => ym -> o.size.toLong }
    cells.filter(_.getAs[Int]("month_offset") == 0).foreach { r =>
      val d = r.getAs[java.sql.Date]("cohort_month").toLocalDate
      val ym = d.getYear * 12 + d.getMonthValue - 1
      assert(r.getAs[Long]("active_customers") == cohortSizes(ym),
        s"cohort $d offset-0 active count")
    }
  }

  test("order gaps: histogram masses match the per-customer day lists") {
    val rows = Gold.orderGaps(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val perCust = Tables.sales(spark, sfDir)
      .select(col("customer_id"), to_date(col("sale_ts")).as("d"))
      .distinct().collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[java.sql.Date]("d").toLocalDate.toEpochDay))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val gaps = perCust.toSeq.flatMap { case (c, ds) =>
      ds.zip(ds.tail).map { case (a, b) => (c, b - a) }
    }
    val expHist = gaps.groupBy(_._2).view
      .mapValues(g => (g.size.toLong, g.map(_._1).distinct.size.toLong)).toMap
    assert(rows.length == expHist.size)
    rows.foreach { r =>
      val (n, nc) = expHist(r.getAs[Long]("gap_days"))
      assert(r.getAs[Long]("n_gaps") == n)
      assert(r.getAs[Long]("n_customers") == nc)
    }
  }

  test("price slope: recovers a planted linear response; constant price is NULL") {
    import spark.implicits._
    // category A: q = 100 - 2p exactly (slope -2); category B: constant price
    val sales = (1 to 50).map { i =>
      val p = i.toDouble
      (i.toLong, 1L, i.toLong % 7, 100L - 2 * i, p, "2024-01-01 00:00:00")
    } ++ (1 to 20).map(i => (100L + i, 2L, i.toLong % 7, i.toLong, 5.0,
      "2024-01-02 00:00:00"))
    val salesDf = sales.toDF("transaction_id", "product_id", "store_id",
      "quantity", "unit_price", "ts")
      .select(col("transaction_id"), col("product_id"), lit(1L).as("customer_id"),
        col("store_id"), col("quantity"), col("unit_price"),
        col("ts").cast("timestamp_ntz").as("sale_ts"))
    val productsDf = Seq((1L, "a", "s", "catA", 1.0), (2L, "b", "s", "catB", 1.0))
      .toDF("product_id", "product_name", "sku", "category", "price")
    val out = Gold.priceSlopeOf(salesDf, productsDf).collect()
      .map(r => r.getAs[String]("category") ->
        (if (r.isNullAt(r.fieldIndex("slope"))) None
         else Some(r.getAs[Double]("slope")))).toMap
    assert(math.abs(out("catA").get - (-2.0)) < 1e-9)
    assert(out("catB").isEmpty, "zero price variance must yield NULL, not NaN")
  }

  test("repeat rate equals a brute-force month/customer recompute") {
    val got = Gold.repeatRate(spark, sfDir).collect()
      .map(r => r.getDate(0).toString ->
        (r.getAs[Long]("n_customers"), r.getAs[Long]("n_repeat"),
          r.getAs[Double]("repeat_rate"))).toMap
    val orders = Tables.table(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("string")).collect()
      .map { r =>
        val d = r.getString(1) // yyyy-MM-dd HH:mm:ss
        (d.substring(0, 7), r.getLong(0))
      }
    val byMonth = orders.groupBy(_._1)
    assert(got.size == byMonth.size)
    byMonth.foreach { case (ym, rows) =>
      val perCust = rows.groupBy(_._2).view.mapValues(_.size)
      val nCust = perCust.size.toLong
      val nRep = perCust.count(_._2 >= 2).toLong
      val (gc, gr, rate) = got(s"$ym-01")
      assert(gc == nCust, s"$ym customers")
      assert(gr == nRep, s"$ym repeat")
      assert(rate == nRep.toDouble / nCust.toDouble, s"$ym rate")
    }
  }

  test("abc classification equals the global-cumsum recompute, partitions 80/15/5") {
    val got = Gold.abcClass(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("product_id"), r.getAs[Double]("revenue"),
        r.getAs[Double]("cum_revenue"), r.getAs[String]("abc_class")))
    // brute force on the driver: per-product fixed-point revenue,
    // global (rev DESC, product_id) cumulative sum, integer thresholds
    val rev = Tables.sales(spark, sfDir)
      .select(col("product_id"), col("unit_price"), col("quantity")).collect()
      .groupBy(_.getAs[Long]("product_id"))
      .map { case (pid, rows) =>
        pid -> rows.map(r => math.floor(
          r.getAs[Double]("unit_price") * r.getAs[Long]("quantity") * 10000).toLong).sum
      }
    val total = rev.values.sum
    var cum = 0L
    val exp = rev.toSeq.sortBy { case (pid, r) => (-r, pid) }.map { case (pid, r) =>
      cum += r
      val cls = if (cum * 5 <= total * 4) "A"
        else if (cum * 20 <= total * 19) "B" else "C"
      (pid, r.toDouble / 10000, cum.toDouble / 10000, cls)
    }.sortBy(_._1)
    assert(got.toSeq == exp)
    assert(Set("A", "B", "C").subsetOf(got.map(_._4).toSet))
  }

  test("market shares sum to 1 per category and reconcile with category totals") {
    val rows = Gold.marketShare(spark, sfDir).collect()
    rows.groupBy(_.getAs[String]("category")).foreach { case (cat, rs) =>
      val shareSum = rs.map(_.getAs[Double]("share")).sum
      assert(math.abs(shareSum - 1.0) < 1e-9, s"category $cat shares sum $shareSum")
      val catRev = rs.head.getAs[Double]("category_revenue")
      val brandSum = rs.map(_.getAs[Double]("revenue")).sum
      assert(math.abs(brandSum - catRev) < 1e-6, s"category $cat totals")
    }
  }

  test("new + returning customers per month equals that month's distinct buyers") {
    val got = Gold.newVsReturning(spark, sfDir).collect()
      .map(r => r.getAs[java.sql.Date]("month").toString ->
        (r.getAs[Long]("n_new_customers") + r.getAs[Long]("n_returning_customers")))
      .toMap
    val exp = Tables.sales(spark, sfDir)
      .select(date_format(trunc(col("sale_ts"), "month"), "yyyy-MM-dd").as("m"),
        col("customer_id"))
      .distinct().groupBy("m").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("m") -> r.getAs[Long]("n")).toMap
    assert(got == exp)
    // every month after the first has returning customers; the first has none
    val first = Gold.newVsReturning(spark, sfDir).collect().minBy(_.getAs[java.sql.Date]("month").toString)
    assert(first.getAs[Long]("n_returning_customers") == 0L)
  }

  test("yoy growth is null for a category's first year and matches the ratio") {
    val rows = Athena.yoyGrowth(spark, sfDir).collect()
    val byCat = rows.groupBy(_.getAs[String]("category"))
    byCat.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("sale_year"))
      assert(sorted.head.isNullAt(sorted.head.fieldIndex("yoy_growth")))
      sorted.sliding(2).foreach {
        case Array(prev, cur)
            if cur.getAs[Int]("sale_year") == prev.getAs[Int]("sale_year") + 1 =>
          val g = cur.getAs[Double]("yoy_growth")
          val exp = (cur.getAs[Double]("revenue") - prev.getAs[Double]("revenue")) /
            prev.getAs[Double]("revenue")
          assert(math.abs(g - exp) < 1e-9)
          assert(cur.getAs[Double]("prev_revenue") == prev.getAs[Double]("revenue"))
        case _ => ()
      }
    }
  }

  test("returns by category: counters reconcile with the raw line fact") {
    val rows = Gold.returnsByCategory(spark, sfDir).collect()
    val li = Tables.table(spark, sfDir, "lineitem")
    assert(rows.map(_.getAs[Long]("n_lines")).sum == li.count())
    assert(rows.map(_.getAs[Long]("n_returned")).sum ==
      li.where(col("l_returnflag") === "R").count())
    rows.foreach { r =>
      assert(r.getAs[Double]("return_rate") >= 0.0 &&
        r.getAs[Double]("return_rate") <= 1.0)
      assert(r.getAs[Long]("returned_qty") <= r.getAs[Long]("total_qty"))
    }
    // plan: dim join is broadcast, no cartesian
    val plan = Gold.returnsByCategory(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("discount impact: gross = net + discount within fixed-point tolerance") {
    Gold.discountImpact(spark, sfDir).collect().foreach { r =>
      val gross = r.getAs[Double]("gross_revenue")
      val net   = r.getAs[Double]("net_revenue")
      val disc  = r.getAs[Double]("discount_amount")
      // each side floors independently at 1e-4, so per-line error < 2e-4
      assert(math.abs(gross - (net + disc)) <= 2e-4 * r.getAs[Long]("n_lines"))
      assert(r.getAs[Double]("effective_discount_rate") >= 0.0 &&
        r.getAs[Double]("effective_discount_rate") < 1.0)
    }
  }

  test("order value histogram covers every order exactly once") {
    val h = Gold.orderValueHistogram(spark, sfDir).collect()
    assert(h.map(_.getAs[Long]("n_orders")).sum ==
      Tables.table(spark, sfDir, "orders").count())
    h.foreach { r =>
      val lo = r.getAs[Double]("bucket_lo")
      assert(r.getAs[Double]("min_total") >= lo)
      assert(r.getAs[Double]("max_total") < lo + Gold.OrderValueBucket)
    }
  }

  test("pricing summary covers every line; charge >= disc price per cell") {
    val rows = Athena.pricingSummary(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("count_order")).sum ==
      Tables.table(spark, sfDir, "lineitem").count())
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_disc_price") <= r.getAs[Double]("sum_base_price"))
      assert(r.getAs[Double]("sum_charge") >= r.getAs[Double]("sum_disc_price"))
      assert(r.getAs[Double]("avg_qty") > 0.0)
    }
  }

  test("seasonality indexes revenue-weight to 12 per category") {
    val rows = Gold.seasonality(spark, sfDir).collect()
    rows.groupBy(_.getAs[String]("category")).foreach { case (_, ms) =>
      // idx_m = 12·rev_m/total ⇒ Σ_m idx_m = 12 when all 12 months trade
      assert(ms.length == 12)
      assert(math.abs(ms.map(_.getAs[Double]("seasonality_index")).sum - 12.0)
        < 1e-6)
      assert(ms.forall(_.getAs[Double]("seasonality_index") > 0.0))
    }
  }

  test("also-bought: k partners per brand, lift-descending, symmetric source") {
    val rows = Gold.alsoBought(spark, sfDir).collect()
    val aff = Gold.basketAffinity(spark, sfDir).collect()
      .flatMap { r =>
        val (a, b) = (r.getAs[String]("sku_a"), r.getAs[String]("sku_b"))
        val (n, l) = (r.getAs[Long]("n_ab"), r.getAs[Double]("lift"))
        Seq((a, b, n, l), (b, a, n, l))
      }
    val exp = aff.groupBy(_._1).flatMap { case (sku, ps) =>
      ps.sortBy(p => (-p._4, p._2)).take(Gold.AlsoBoughtK)
        .zipWithIndex.map { case ((_, p, n, l), i) => (sku, i + 1, p, n, l) }
        .toSeq
    }.toSet
    assert(rows.map(r => (r.getAs[String]("sku"), r.getAs[Int]("rn"),
      r.getAs[String]("partner"), r.getAs[Long]("n_ab"),
      r.getAs[Double]("lift"))).toSet == exp)
    rows.groupBy(_.getAs[String]("sku")).values.foreach { g =>
      assert(g.length <= Gold.AlsoBoughtK)
    }
  }

  test("first-purchase category: one vote per customer, months match cohorts") {
    val rows = Gold.firstPurchaseCategory(spark, sfDir).collect()
    val customers = Tables.sales(spark, sfDir)
      .select("customer_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_new_customers")).sum == customers)
    // cohort month per customer must match cohortLtv's first-month view
    val cohorts = Gold.cohortLtv(spark, sfDir).collect()
      .map(_.getAs[java.sql.Date]("cohort_month").toString).toSet
    rows.foreach(r =>
      assert(cohorts.contains(r.getAs[java.sql.Date]("cohort_month").toString)))
  }

  test("category HHI: bounded by [1/n, 1], replays market-share squares") {
    val rows = Gold.categoryHhi(spark, sfDir).collect()
    val shares = Gold.marketShare(spark, sfDir).collect()
      .groupBy(_.getAs[String]("category"))
    rows.foreach { r =>
      val cat = r.getAs[String]("category")
      val h = r.getAs[Double]("hhi")
      val n = r.getAs[Long]("n_brands")
      assert(h >= 1.0 / n - 1e-12 && h <= 1.0, s"$cat hhi $h")
      val exp = shares(cat).map(s => {
        val sh = s.getAs[Double]("share"); sh * sh
      }).sum
      assert(math.abs(h - exp) < 1e-9, s"$cat vs share-squares $exp")
      assert(n == shares(cat).length.toLong)
    }
  }

  test("monthly AOV: orders/revenue reconcile; deltas chain between months") {
    val rows = Gold.aovMonthly(spark, sfDir).collect()
      .sortBy(_.getAs[java.sql.Date]("month").toString)
    assert(rows.map(_.getAs[Long]("n_orders")).sum >=
      Tables.table(spark, sfDir, "orders").count(),
      "an order spanning months is counted in each month it ships")
    val revTotal = rows.map(_.getAs[Double]("revenue")).sum
    val daily = Gold.dailySalesSummary(spark, sfDir)
      .agg(sum("revenue")).head.getDouble(0)
    assert(math.abs(revTotal - daily) < 1.0)
    assert(rows.head.isNullAt(rows.head.fieldIndex("mom_delta")))
    rows.sliding(2).foreach {
      case Array(p, c) =>
        val pm = p.getAs[java.sql.Date]("month").toLocalDate
        if (c.getAs[java.sql.Date]("month").toLocalDate == pm.plusMonths(1))
          assert(math.abs(c.getAs[Double]("mom_delta") -
            (c.getAs[Double]("aov") - p.getAs[Double]("aov"))) < 1e-9)
      case _ => ()
    }
  }

  test("top movers: ratio-descending, both halves traded, k-bounded") {
    val rows = Gold.topMovers(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= Gold.MoversK)
    val ratios = rows.map(_.getAs[Double]("growth_ratio"))
    assert(ratios.sameElements(ratios.sortBy(-_)))
    rows.foreach { r =>
      assert(r.getAs[Double]("h1_revenue") > 0.0)
      assert(r.getAs[Double]("h2_revenue") > 0.0)
      assert(math.abs(r.getAs[Double]("growth_ratio") -
        r.getAs[Double]("h2_revenue") / r.getAs[Double]("h1_revenue")) < 1e-9)
    }
  }

  test("stockout risk: one row per ledger item, cadence rule replayed") {
    val rows = Gold.stockoutRisk(spark, sfDir).collect()
    val ledger = Tables.sales(spark, sfDir)
      .select("store_id", "product_id").distinct().count()
    assert(rows.length == ledger)
    assert(rows.exists(_.getAs[Boolean]("stockout_risk")) &&
      rows.exists(!_.getAs[Boolean]("stockout_risk")),
      "the flag must discriminate on this corpus")
    rows.foreach { r =>
      val (n, stale, span) = (r.getAs[Long]("n_movements"),
        r.getAs[Long]("stale_days"), r.getAs[Long]("span_days"))
      assert(stale >= 0 && span >= 0)
      val exp = if (n >= 2) (n - 1) * stale > span * 3
        else stale > Gold.StockoutColdDays
      assert(r.getAs[Boolean]("stockout_risk") == exp)
    }
  }

  test("priority fulfillment: every order counted once, lateness vs brute force") {
    val rows = Athena.priorityFulfillment(spark, sfDir).collect()
    val orders = Tables.table(spark, sfDir, "orders")
    assert(rows.map(_.getAs[Long]("n_orders")).sum == orders.count())
    // brute-force recount of late orders across all priorities
    // (an order with no lines never shipped → late)
    val li = Tables.table(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("ls"))
    val late = orders.join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .where(col("ls").isNull ||
        datediff(col("ls"), col("o_orderdate")) > Athena.LateShipDays)
      .count()
    assert(rows.map(_.getAs[Long]("n_late")).sum == late)
  }

  test("segment sales: cells cover every line's month; revenue reconciles") {
    val cells = Gold.segmentSales(spark, sfDir).collect()
    val fact = Tables.sales(spark, sfDir)
      .join(Tables.customers(spark, sfDir).select("customer_id", "city"),
        "customer_id")
    // every (segment, month) with at least one sale appears exactly once
    val expectCells = fact
      .select(col("city"), date_trunc("month", col("sale_ts")).cast("date"))
      .distinct().count()
    assert(cells.length.toLong == expectCells)
    assert(cells.map(r => (r.getAs[String]("segment"), r.getAs[java.sql.Date]("month")))
      .distinct.length == cells.length)
    // fixed-point revenue mass reconciles against one global aggregate
    val total = fact.agg(Gold.moneySum(col("unit_price") * col("quantity")))
      .collect()(0).getDouble(0)
    val cellSum = cells.map(r =>
      math.floor(r.getAs[Double]("revenue") * 10000 + 0.5).toLong).sum
    assert(cellSum == math.floor(total * 10000 + 0.5).toLong)
    cells.foreach { r =>
      // each order has one customer, so distinct customers ≤ distinct orders
      assert(r.getAs[Long]("n_customers") <= r.getAs[Long]("n_orders") &&
        r.getAs[Long]("n_orders") > 0)
      assert(r.getAs[Double]("rev_per_order") ==
        r.getAs[Double]("revenue") / r.getAs[Long]("n_orders").toDouble)
    }
  }

  test("nation trade: line mass covers the fact; domestic flag consistent") {
    val cells = Gold.nationTrade(spark, sfDir).collect()
    assert(cells.map(_.getAs[Long]("n_lines")).sum ==
      Tables.sales(spark, sfDir).count())
    cells.foreach { r =>
      assert(r.getAs[Boolean]("is_domestic") ==
        (r.getAs[String]("cust_country") == r.getAs[String]("store_country")))
    }
    // both domestic and cross-border trade exist in the corpus
    assert(cells.exists(_.getAs[Boolean]("is_domestic")))
    assert(cells.exists(!_.getAs[Boolean]("is_domestic")))
  }

  test("price index: base month indexes at exactly 1, ratios replay") {
    val rows = Gold.priceIndex(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // first month IS the base: basket == base cost, index exactly 1.0
    val first = rows.minBy(_.getAs[java.sql.Date]("month").getTime)
    assert(first.getAs[Double]("basket_cost") == first.getAs[Double]("base_cost"))
    assert(first.getAs[Double]("price_index") == 1.0)
    rows.foreach { r =>
      assert(r.getAs[Double]("price_index") ==
        r.getAs[Double]("basket_cost") / r.getAs[Double]("base_cost"))
      assert(r.getAs[Long]("n_products") > 0)
      // matched sample: never more products than the base basket holds
      assert(r.getAs[Long]("n_products") <= first.getAs[Long]("n_products"))
    }
  }

  test("fd profile: PK deps hold, planted violations surface, keys reconcile") {
    val rows = DataQuality.fdProfile(spark, sfDir).collect()
      .map(r => r.getAs[String]("fd") ->
        (r.getAs[Long]("n_keys"), r.getAs[Long]("n_violations"),
          r.getAs[Long]("max_variants"), r.getAs[Double]("violation_rate"))).toMap
    assert(rows.size == 6)
    // primary-key → attribute dependencies are violation-free
    Seq("customer.c_custkey->c_mktsegment", "orders.o_orderkey->o_custkey",
      "supplier.s_suppkey->s_nationkey").foreach { fd =>
      assert(rows(fd)._2 == 0L && rows(fd)._3 == 1L, fd)
    }
    // brands span types: a business fact, not a key
    assert(rows("part.p_brand->p_type")._2 > 0L)
    // key counts reconcile against direct distinct counts
    assert(rows("orders.o_orderkey->o_custkey")._1 ==
      Tables.table(spark, sfDir, "orders").select("o_orderkey").distinct().count())
    val sales = Tables.sales(spark, sfDir)
    assert(rows("sales.transaction_id->product_id")._1 ==
      sales.select("transaction_id").distinct().count())
    // transaction_id → customer_id always holds (both derive from the
    // order), while → product_id is violated wherever the testdata
    // carries duplicate (orderkey, linenumber) pairs (sf-dependent)
    assert(rows("sales.transaction_id->customer_id")._2 == 0L)
    val dupIds = sales.groupBy("transaction_id")
      .agg(countDistinct("product_id").as("k")).where(col("k") > 1).count()
    assert(rows("sales.transaction_id->product_id")._2 == dupIds)
    rows.values.foreach { case (n, v, _, rate) =>
      assert(rate == v.toDouble / n.toDouble)
    }
  }

  test("fd profile approx twin tracks the exact profile within sketch error") {
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("fd") -> (r.getAs[Long]("n_keys"),
        r.getAs[Long]("n_violations"), r.getAs[Long]("max_variants"))).toMap
    val exact = norm(DataQuality.fdProfile(spark, sfDir))
    val approx = norm(DataQuality.fdProfileApprox(spark, sfDir))
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (fd, (nk, nv, mv)) =>
      val (ank, anv, amv) = approx(fd)
      assert(ank == nk, s"$fd n_keys")        // key count is exact
      // HLL++ never inflates a single-valued key past 1: clean
      // dependencies must stay exactly clean
      if (nv == 0L) assert(anv == 0L, s"$fd false violations")
      else assert(math.abs(anv - nv) <= math.max(2L, nv / 50), s"$fd n_violations")
      assert(math.abs(amv - mv) <= math.max(1L, mv / 5), s"$fd max_variants")
    }
  }

  test("store credit: every store counted once; revenue reconciles") {
    val rows = Athena.storeCredit(spark, sfDir).collect()
    val suppliers = Tables.table(spark, sfDir, "supplier")
    assert(rows.map(_.getAs[Long]("n_stores")).sum == suppliers.count())
    assert(rows.map(_.getAs[Long]("n_neg_balance")).sum ==
      suppliers.where(col("s_acctbal") < 0).count())
    // sales-attributed revenue mass reconciles (stores w/o sales add 0)
    val total = Tables.sales(spark, sfDir)
      .agg(Gold.moneySum(col("unit_price") * col("quantity")))
      .collect()(0).getDouble(0)
    val sum = rows.map(r =>
      math.floor(r.getAs[Double]("revenue_total") * 10000 + 0.5).toLong).sum
    assert(sum == math.floor(total * 10000 + 0.5).toLong)
    rows.foreach { r =>
      assert(r.getAs[Double]("rev_per_store") ==
        r.getAs[Double]("revenue_total") / r.getAs[Long]("n_stores").toDouble)
    }
  }

  test("xyz class matches a brute-force per-product monthly-demand CV") {
    val sales = Tables.sales(spark, sfDir)
      .select(col("product_id"), col("quantity"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).as("ym"))
      .collect()
      .map(r => (r.getAs[Long]("product_id"), r.getAs[Long]("quantity"),
        r.getAs[Int]("ym").toLong))
    val perProduct = sales.groupBy(_._1).map { case (pid, rs) =>
      val monthly = rs.groupBy(_._3).map(_._2.map(_._2).sum)
      val n = monthly.size.toLong
      val s1 = monthly.sum
      val s2 = monthly.map(q => q * q).sum
      pid -> (s1, math.sqrt((n * s2 - s1 * s1).toDouble) / s1.toDouble)
    }
    val rows = Gold.xyzClass(spark, sfDir).collect()
    assert(rows.length == perProduct.size)
    rows.foreach { r =>
      val (s1, cv) = perProduct(r.getAs[Long]("product_id"))
      assert(r.getAs[Long]("total_qty") == s1)
      assert(r.getAs[Double]("demand_cv") == cv)
      val cls = r.getAs[String]("xyz_class")
      assert(cls == (if (cv < 0.5) "X" else if (cv < 1.0) "Y" else "Z"))
    }
    // the corpus must exercise more than one class for the cut to mean
    // anything
    assert(rows.map(_.getAs[String]("xyz_class")).distinct.length >= 2)
  }

  test("snaive backtest matches a brute-force month-shift replay") {
    val rev = Tables.sales(spark, sfDir)
      .join(Tables.products(spark, sfDir).select("product_id", "category"),
        "product_id")
      .select(col("category"),
        (year(col("sale_ts")) * 12 + month(col("sale_ts")) - 1).as("ym"),
        floor(col("unit_price") * col("quantity") * lit(10000)).as("r"))
      .collect()
      .map(r => ((r.getAs[String]("category"), r.getAs[Int]("ym")),
        r.getAs[Long]("r")))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
    val expected = rev.keys.groupBy(_._1).flatMap { case (cat, keys) =>
      val pairs = keys.flatMap { case (_, ym) =>
        rev.get((cat, ym - 12)).map(p => (rev((cat, ym)), p))
      }.toList
      if (pairs.isEmpty) None
      else {
        val absErr = pairs.map { case (a, p) => BigInt((a - p).abs) }.sum
        val actual = pairs.map(p => BigInt(p._1)).sum
        Some(cat -> (pairs.length.toLong,
          absErr.toDouble / 10000 / pairs.length.toDouble,
          absErr.toDouble / actual.toDouble))
      }
    }
    val rows = Gold.snaiveBacktest(spark, sfDir).collect()
    assert(rows.length == expected.size && rows.nonEmpty)
    rows.foreach { r =>
      val (n, mae, wape) = expected(r.getAs[String]("category"))
      assert(r.getAs[Long]("n_backtest_months") == n)
      assert(r.getAs[Double]("mae") == mae)
      assert(r.getAs[Double]("wape") == wape)
      assert(wape >= 0.0)
    }
  }
}
