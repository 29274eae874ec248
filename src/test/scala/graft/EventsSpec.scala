package graft

import org.apache.spark.sql.functions._
import graft.operators.{DataQuality, Events}
import graft.sources.Tables

class EventsSpec extends SparkSpec {

  test("funnel stages are ordered and monotonically shrinking") {
    val f = Events.funnel(spark, sfDir).collect()
    assert(f.nonEmpty)
    // every user in the funnel had a view; stage timestamps are strictly
    // increasing where present; a purchase implies a click
    f.foreach { r =>
      val v = r.getAs[Long]("view_es")
      if (!r.isNullAt(r.fieldIndex("click_es"))) {
        assert(r.getAs[Long]("click_es") > v)
        if (!r.isNullAt(r.fieldIndex("purchase_es")))
          assert(r.getAs[Long]("purchase_es") > r.getAs[Long]("click_es"))
      } else assert(r.isNullAt(r.fieldIndex("purchase_es")))
    }
    val nView = f.length
    val nClick = f.count(!_.isNullAt(2))
    val nBuy = f.count(!_.isNullAt(3))
    assert(nView >= nClick && nClick >= nBuy)
    // funnel covers exactly the users with at least one view
    val viewers = Tables.events(spark, sfDir)
      .where(col("event_type") === "view").select("user_id").distinct().count()
    assert(nView == viewers)
  }

  test("funnel picks the earliest valid chain on a planted sequence") {
    import spark.implicits._
    // user 1: view@10, click@5 (before view — ignored), click@20,
    //         purchase@15 (before click@20 — ignored), purchase@30
    // user 2: view@100, no click, stray purchase@110 (no click ⇒ null)
    val planted = Seq(
      (1L, "view", 10L), (1L, "click", 5L), (1L, "click", 20L),
      (1L, "purchase", 15L), (1L, "purchase", 30L),
      (2L, "view", 100L), (2L, "purchase", 110L))
      .toDF("user_id", "event_type", "es")
    val v = planted.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("es").as("view_es"))
    val c = planted.where(col("event_type") === "click").join(v, "user_id")
      .where(col("es") > col("view_es"))
      .groupBy("user_id").agg(min("es").as("click_es"))
    val p = planted.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("es") > col("click_es"))
      .groupBy("user_id").agg(min("es").as("purchase_es"))
    val out = v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(1L) == (10L, Some(20L), Some(30L)))
    assert(out(2L) == (100L, None, None))
  }

  test("approx quantiles track the exact quantiles (the 100 TB path)") {
    // evt_quantiles uses exact percentile for the oracle; this contract
    // pins the documented at-scale swap-in (approx_percentile, t-digest,
    // mergeable single pass) to the exact result within tolerance
    // approx_percentile's guarantee is on RANK, not value: the returned
    // value's true quantile position is within ±eps of the target. Assert
    // each approx value lies between the exact quantiles one rank-step
    // either side of the target.
    val eps = 0.01
    val targets = Seq(0.5, 0.9, 0.99)
    val brackets = targets.flatMap(p => Seq(math.max(0, p - eps), math.min(1, p + eps)))
    val exact = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(expr(s"percentile(value, array(${brackets.mkString(",")}))").as("b"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val approx = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(expr(s"approx_percentile(value, array(${targets.mkString(",")}), 10000)").as("q"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (t, qs) =>
      targets.indices.foreach { i =>
        val (lo, hi) = (exact(t)(2 * i), exact(t)(2 * i + 1))
        assert(qs(i) >= lo && qs(i) <= hi,
          s"$t p${targets(i)}: approx ${qs(i)} outside rank bracket [$lo,$hi]")
      }
    }
  }

  test("forward as-of equals the per-event minimum qualifying order") {
    import spark.implicits._
    // planted: user 1 orders at ts 20, 40; user 2 none
    val events = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L),
      (4L, 1L, 50L), (5L, 2L, 10L)).toDF("event_id", "user_id", "ts")
    val orders = Seq((1L, 20L), (1L, 40L)).toDF("user_id", "o_ts")
    val got = graft.operators.AsOfJoin.forward(events, orders, key = "user_id",
      leftTs = "ts", rightTs = "o_ts", rightVal = "o_ts", asOfCol = "next_o")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(r.fieldIndex("next_o"))) None
         else Some(r.getAs[Long]("next_o")))).toMap
    assert(got == Map(1L -> Some(20L), 2L -> Some(20L), // inclusive >=
      3L -> Some(40L), 4L -> None, 5L -> None))
  }

  test("histogram buckets partition the events exactly") {
    val h = Events.valueHistogram(spark, sfDir).collect()
    assert(h.nonEmpty)
    h.foreach { r =>
      assert(r.getAs[Long]("bucket_lo") % Events.HistBucketWidth == 0L)
      assert(r.getAs[Long]("n_events") > 0L)
    }
    assert(h.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sfDir).count())
  }

  test("anomalies are exactly the >3-sigma events (independent recompute)") {
    val flagged = Events.valueAnomalies(spark, sfDir).collect()
      .map(r => r.getAs[Long]("event_id")).toSet
    // recompute the fixed-point moments driver-side, independently
    val rows = Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expect = rows.groupBy(_._2).valuesIterator.flatMap { g =>
      val n = g.length.toDouble
      val sx = g.map(t => math.floor(t._3 * 10000).toLong).sum / 10000.0
      val sxx = g.map(t => math.floor(t._3 * t._3 * 10000).toLong).sum / 10000.0
      val mean = sx / n
      val std = math.sqrt(sxx / n - mean * mean)
      g.filter(t => math.abs(t._3 - mean) > Events.AnomalyZ * std).map(_._1)
    }.toSet
    assert(flagged == expect)
    assert(flagged.nonEmpty)
  }

  test("anomaly stats join broadcasts (no fact-side shuffle for stats)") {
    val plan = Events.valueAnomalies(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("heavy users equal the exact threshold query (sketch only prunes)") {
    val got = Events.heavyUsers(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counts = Tables.events(spark, sfDir).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = counts.values.sum
    val expect = counts.filter { case (_, c) => c * (Events.MgK + 1) > n }
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("heavy-users recount pass pushes the candidate filter to the scan") {
    val plan = Events.heavyUsers(spark, sfDir).queryExecution.executedPlan.toString
    // the sketch row is driver-injected, so the recount is a pure scan
    // with the candidate INSET pushed into parquet — no join of any kind
    assert(plan.contains("INSET") || plan.contains("PushedFilters: [In(user_id"),
      plan.take(800))
    assert(!plan.contains("Join"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("misra-gries guarantee: every item above N/(k+1) survives, est <= true") {
    import spark.implicits._
    // planted skew: ids 1..3 heavy, 4..1000 one hit each; k far below
    // distinct count so the sketch must decrement
    val k = 16
    val rows = (Seq.fill(400)(1L) ++ Seq.fill(300)(2L) ++ Seq.fill(200)(3L) ++
      (4L to 1000L)).toDF("id").repartition(7)
    val cand = rows.agg(
      org.apache.spark.sql.functions.call_function("graft_heavy_hitters",
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(k)).as("cand"))
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.col("cand")).as("c"))
      .select("c.id", "c.est")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = 400 + 300 + 200 + 997
    val truth = Map(1L -> 400L, 2L -> 300L, 3L -> 200L)
    truth.foreach { case (id, t) =>
      assert(t <= n / (k + 1) || cand.contains(id), s"heavy id $id missing")
      if (cand.contains(id)) {
        assert(cand(id) <= t, s"overestimate for $id")
        assert(cand(id) >= t - n / (k + 1) - 1, s"est too low for $id")
      }
    }
    assert(cand.size <= k)
  }

  test("retention counts every user once per active week offset") {
    val r = Events.retention(spark, sfDir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getAs[Long]("week_offset") >= 0L)
      assert(row.getAs[Long]("n_users") > 0L)
    }
    // offset-0 cohort sizes sum to the distinct-user count (every user is
    // active in their own first week by definition)
    val week0 = r.filter(_.getAs[Long]("week_offset") == 0L)
      .map(_.getAs[Long]("n_users")).sum
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(week0 == users)
    // no offset cell can exceed its cohort's week-0 size
    val cohortSize = r.filter(_.getAs[Long]("week_offset") == 0L)
      .map(row => row.getAs[Long]("cohort_wk") -> row.getAs[Long]("n_users")).toMap
    r.foreach { row =>
      assert(row.getAs[Long]("n_users") <= cohortSize(row.getAs[Long]("cohort_wk")))
    }
  }

  test("sliding windows cover each event window/hop times; starts hop-aligned") {
    val rows = Events.slidingAgg(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val perWindow = Events.SlideWindowSec / Events.SlideHopSec // = 4
    val nTotal = Tables.events(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == perWindow * nTotal)
    rows.foreach { r =>
      val startEs = r.getAs[java.time.LocalDateTime]("window_start")
        .toEpochSecond(java.time.ZoneOffset.UTC)
      assert(startEs % Events.SlideHopSec == 0, s"start $startEs")
    }
    // one planted window: brute-force membership matches
    val es = Tables.events(spark, sfDir)
      .selectExpr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) es",
        "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (w0, t0) = {
      val r = rows.head
      (r.getAs[java.time.LocalDateTime]("window_start")
        .toEpochSecond(java.time.ZoneOffset.UTC), r.getAs[String]("event_type"))
    }
    val expect = es.count { case (t, ty) =>
      ty == t0 && t >= w0 && t < w0 + Events.SlideWindowSec }
    assert(rows.head.getAs[Long]("n_events") == expect)
  }

  test("drift TV distance is in [0,1] and matches a brute-force recompute") {
    import graft.operators.DataQuality
    val rows = DataQuality.drift(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tv = r.getAs[Double]("tv_distance")
      assert(tv >= 0.0 && tv <= 1.0, s"tv $tv")
      // even/odd split of one generator: same distribution, so drift is
      // well below the disjoint-histograms extreme (small-sample noise
      // keeps it off zero at this sf)
      assert(tv < 0.5, s"tv $tv suspiciously high for identical snapshots")
    }
    val ev = Tables.events(spark, sfDir)
      .selectExpr("event_type", "event_id",
        s"CAST(FLOOR(value) AS BIGINT) DIV ${Events.HistBucketWidth} AS bin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val r0 = rows.head
    val ty = r0.getAs[String]("event_type")
    val base = ev.filter(e => e._1 == ty && e._2 % 2 == 0).groupBy(_._3)
      .map { case (b, g) => b -> g.size.toLong }
    val cand = ev.filter(e => e._1 == ty && e._2 % 2 == 1).groupBy(_._3)
      .map { case (b, g) => b -> g.size.toLong }
    val n = base.values.sum; val m = cand.values.sum
    val num = (base.keySet ++ cand.keySet).toSeq.map { b =>
      math.abs(base.getOrElse(b, 0L) * m - cand.getOrElse(b, 0L) * n) }.sum
    val tv = num.toDouble / (2.0 * n * m)
    assert(r0.getAs[Long]("n_base") == n && r0.getAs[Long]("n_cand") == m)
    assert(math.abs(r0.getAs[Double]("tv_distance") - tv) < 1e-12)
  }

  test("transition matrix rows sum to 1 and match a brute-force recompute") {
    val rows = Events.transitions(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (f, g) =>
      val s = g.map(_.getAs[Double]("prob")).sum
      assert(math.abs(s - 1.0) < 1e-9, s"row $f sums to $s")
    }
    val seq = Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "event_type",
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) es")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val brute = seq.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      val sorted = evs.toSeq.sortBy(e => (e._4, e._2))
      sorted.zip(sorted.drop(1)).map { case (a, b) => (a._3, b._3) }
    }.groupBy(x => x).map { case (k, g) => k -> g.size.toLong }
    val got = rows.map(r => (r.getAs[String]("from_type"),
      r.getAs[String]("to_type")) -> r.getAs[Long]("n")).toMap
    assert(got == brute)
  }

  test("linear attribution splits each purchase equally across in-window touches") {
    val rows = Events.attributionLinear(spark, sfDir).collect()
    val seq = Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "event_type", "value",
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) es")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    val w = Events.AttributionWindowSec
    val credits = seq.filter(_._3 == "purchase").flatMap {
      case (u, pid, _, v, pes) =>
        val touches = seq.filter(t => t._1 == u &&
          (t._3 == "view" || t._3 == "click") &&
          t._5 >= pes - w && t._5 < pes)
        if (touches.isEmpty) Seq(("direct", pid, v))
        else touches.groupBy(_._3).toSeq.map { case (ch, g) =>
          (ch, pid, v * g.length / touches.length)
        }
    }
    // totals conserve: sum of credits == sum of purchase values (up to
    // per-credit fixed-point floors)
    val totalCredited = rows.map(_.getAs[Double]("credited_revenue")).sum
    val totalValue = seq.filter(_._3 == "purchase").map(_._4).sum
    assert(math.abs(totalCredited - totalValue) < 1e-3,
      s"$totalCredited vs $totalValue")
    // per-channel counts match brute force
    val expN = credits.groupBy(_._1).map { case (c, g) =>
      c -> g.map(_._2).distinct.length.toLong }
    val gotN = rows.map(r => r.getAs[String]("channel") ->
      r.getAs[Long]("n_purchases")).toMap
    assert(gotN == expN)
    // per-channel fixed-point revenue matches brute force
    val expRev = credits.groupBy(_._1).map { case (c, g) =>
      c -> g.map(x => math.floor(x._3 * 10000).toLong).sum / 10000.0 }
    rows.foreach { r =>
      val c = r.getAs[String]("channel")
      assert(math.abs(r.getAs[Double]("credited_revenue") - expRev(c)) < 1e-9, c)
    }
  }

  test("user paths are the time-ordered type sequences, truncated") {
    val rows = Events.userPaths(spark, sfDir).collect()
    val seq = Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "event_type",
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) es")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val brute = seq.groupBy(_._1).map { case (u, evs) =>
      val sorted = evs.toSeq.sortBy(e => (e._4, e._2)).map(_._3)
      u -> ((evs.length.toLong, sorted.take(Events.MaxPathLen).mkString(">")))
    }
    assert(rows.length == brute.size)
    rows.foreach { r =>
      val (n, p) = brute(r.getAs[Long]("user_id"))
      assert(r.getAs[Long]("n_events") == n)
      assert(r.getAs[String]("path") == p, s"user ${r.getAs[Long]("user_id")}")
    }
  }

  test("winsorize caps only the tails and preserves in-band values") {
    val rows = Events.winsorize(spark, sfDir).collect()
    assert(rows.length == Tables.events(spark, sfDir).count())
    rows.foreach { r =>
      val (v, c, capped) = (r.getAs[Double]("value"),
        r.getAs[Double]("clamped"), r.getAs[Boolean]("was_capped"))
      if (capped) assert(c != v && (c > v || c < v))
      else assert(c == v)
    }
    // ~2% of each type should be capped (p01/p99 band); loose bounds
    val frac = rows.count(_.getAs[Boolean]("was_capped")).toDouble / rows.length
    assert(frac > 0.005 && frac < 0.06, s"capped fraction $frac")
    // clamped range per type is exactly [lo, hi]: no clamped value may
    // exceed the observed clamp bounds
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, g) =>
      val cs = g.map(_.getAs[Double]("clamped"))
      val vs = g.map(_.getAs[Double]("value"))
      assert(cs.max <= vs.max && cs.min >= vs.min)
    }
  }

  test("robust anomalies match a brute-force median/MAD recompute") {
    val rows = Events.robustAnomalies(spark, sfDir).collect()
    val byType = Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._2)
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.length
      val raw = if (n % 2 == 1) s(n / 2)
        else { val lo = s(n / 2 - 1); val hi = s(n / 2); lo + (hi - lo) * 0.5 }
      math.floor(raw * 10000 + 0.5) / 10000
    }
    val expect = byType.toSeq.flatMap { case (_, g) =>
      val m = med(g.map(_._3).toSeq)
      val d = med(g.map(x => math.abs(x._3 - m)).toSeq)
      g.filter(x => math.abs(x._3 - m) > Events.RobustK * d).map(_._1).toSeq
    }.toSet
    assert(rows.map(_.getAs[Long]("event_id")).toSet == expect)
    assert(rows.nonEmpty)
  }

  test("attribution credits each purchase to the last in-window touch") {
    val rows = Events.attribution(spark, sfDir).collect()
    val seq = Tables.events(spark, sfDir)
      .selectExpr("user_id", "event_id", "event_type", "value",
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) es")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    val brute = seq.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      val sorted = evs.toSeq.sortBy(e => (e._5, e._2))
      sorted.zipWithIndex.collect { case ((_, _, "purchase", v, es), i) =>
        val touch = sorted.take(i).reverse
          .find(e => e._3 == "view" || e._3 == "click")
        val ch = touch match {
          case Some(t) if es - t._5 <= Events.AttributionWindowSec => t._3
          case _ => "direct"
        }
        (ch, v)
      }
    }.groupBy(_._1)
    val gotCounts = rows.map(r =>
      r.getAs[String]("channel") -> r.getAs[Long]("n_purchases")).toMap
    assert(gotCounts == brute.map { case (c, g) => c -> g.size.toLong })
    // purchases exist in all three channels at this sf
    assert(Set("view", "click", "direct").subsetOf(gotCounts.keySet))
    // revenue matches the fixed-point recompute
    val gotRev = rows.map(r =>
      r.getAs[String]("channel") -> r.getAs[Double]("attributed_revenue")).toMap
    brute.foreach { case (c, g) =>
      val fp = g.map(x => math.floor(x._2 * 10000).toLong).sum / 10000.0
      assert(math.abs(gotRev(c) - fp) < 1e-9, s"channel $c")
    }
  }

  test("active users: WAU covers DAU and matches a brute-force window") {
    val rows = Events.activeUsers(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dau, wau) = (r.getAs[Long]("dau"), r.getAs[Long]("wau"))
      assert(wau >= dau, s"WAU < DAU on ${r.get(0)}")
      val s = r.getAs[Double]("stickiness")
      assert(s > 0.0 && s <= 1.0)
    }
    // brute force the trailing-7-day distinct count from the raw pairs
    val pairs = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("d"), col("user_id"))
      .distinct().collect()
      .map(r => (r.getAs[java.sql.Date]("d").toLocalDate.toEpochDay,
        r.getAs[Long]("user_id")))
    val byDay = pairs.groupBy(_._1)
    rows.foreach { r =>
      val day = r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay
      val expWau = (day - 6 to day)
        .flatMap(d => byDay.getOrElse(d, Array.empty[(Long, Long)]))
        .map(_._2).distinct.size.toLong
      assert(r.getAs[Long]("wau") == expWau, s"WAU mismatch on day $day")
      assert(r.getAs[Long]("dau") ==
        byDay(day).map(_._2).distinct.size.toLong)
    }
  }

  test("user features reconcile with direct per-user recomputes") {
    val rows = Events.userFeatures(spark, sfDir).collect()
    val raw = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
    val byUser = raw.groupBy(_._1)
    assert(rows.length == byUser.size)
    rows.foreach { r =>
      val g = byUser(r.getAs[Long]("user_id"))
      assert(r.getAs[Long]("n_events") == g.length)
      assert(r.getAs[Long]("n_types") == g.map(_._2).distinct.length)
      assert(r.getAs[Long]("n_views") == g.count(_._2 == "view"))
      assert(r.getAs[Long]("n_purchases") == g.count(_._2 == "purchase"))
      assert(r.getAs[Long]("first_es") <= r.getAs[Long]("last_es"))
      assert(r.getAs[Long]("active_days") >= 1)
    }
  }

  test("bot rate: max hourly bucket matches brute force; totals reconcile") {
    val rows = Events.botRate(spark, sfDir).collect()
    val raw = Events.eventsWithEpochSeconds(spark, sfDir)
      .select(col("user_id"), col("es")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("es") / 3600))
    val byUser = raw.groupBy(_._1)
    assert(rows.length == byUser.size)
    rows.foreach { r =>
      val hrs = byUser(r.getAs[Long]("user_id")).map(_._2)
      val exp = hrs.groupBy(identity).values.map(_.length).max
      assert(r.getAs[Long]("max_per_hour") == exp)
      assert(r.getAs[Long]("n_events") == hrs.length)
      assert(r.getAs[Boolean]("burst_flag") == (exp >= Events.BotMaxPerHour))
    }
  }

  test("approx active users track exact (the 100 TB path)") {
    val exact = Events.activeUsers(spark, sfDir).collect()
      .map(r => r.get(0).toString -> (r.getAs[Long]("dau"), r.getAs[Long]("wau")))
      .toMap
    val approx = Events.activeUsersApprox(spark, sfDir).collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (ed, ew) = exact(r.get(0).toString)
      // HLL++ default rsd is 5%; allow 3× margin on tiny groups
      assert(math.abs(r.getAs[Long]("dau") - ed) <= math.max(3, ed * 3 / 20))
      assert(math.abs(r.getAs[Long]("wau") - ew) <= math.max(3, ew * 3 / 20))
    }
  }

  test("cart abandonment equals a brute-force user-day recompute") {
    val got = Events.cartAbandonment(spark, sfDir).collect()
      .map(r => r.getDate(0).toString ->
        (r.getAs[Long]("n_clickers"), r.getAs[Long]("n_abandoned"),
          r.getAs[Double]("abandonment_rate"))).toMap
    val ev = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).cast("string"), col("user_id"), col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val byDay = ev.groupBy(_._1)
    val expDays = byDay.filter(_._2.exists(_._3 == "click"))
    assert(got.keySet == expDays.keySet)
    expDays.foreach { case (day, rows) =>
      val byUser = rows.groupBy(_._2)
      val clickers = byUser.filter(_._2.exists(_._3 == "click"))
      val abandoned = clickers.count(!_._2.exists(_._3 == "purchase"))
      val (gc, ga, rate) = got(day)
      assert(gc == clickers.size.toLong, s"$day clickers")
      assert(ga == abandoned.toLong, s"$day abandoned")
      assert(rate == abandoned.toDouble / clickers.size.toDouble)
    }
  }

  test("signup conversion counts first post-signup purchases within the window") {
    val got = Events.signupConversion(spark, sfDir).collect()
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val signups: Map[Long, Long] = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, rows) => u -> rows.map(_._3).min }
    val purchases: Map[Long, Seq[Long]] =
      ev.filter(_._2 == "purchase").groupBy(_._1)
        .map { case (u, rows) => u -> rows.map(_._3).toSeq }
    val perDay: Map[Long, (Long, Long)] =
      signups.groupBy(_._2 / 86400).map { case (d, us) =>
        val conv = us.count { case (u, ses) =>
          purchases.getOrElse(u, Seq.empty).exists(p =>
            p >= ses && p - ses <= Events.ConvertWindowSec)
        }
        d -> ((us.size.toLong, conv.toLong))
      }
    assert(got.length == perDay.size)
    got.foreach { r =>
      val d = (java.time.LocalDate.parse(r.getDate(0).toString).toEpochDay)
      val (n, c) = perDay(d)
      assert(r.getAs[Long]("n_signups") == n)
      assert(r.getAs[Long]("n_converted_7d") == c)
      assert(r.getAs[Double]("conversion_rate") == c.toDouble / n.toDouble)
    }
    // the window is live: some cohort converts, some signup never does
    assert(got.map(_.getAs[Long]("n_converted_7d")).sum > 0)
  }

  test("daily volume anomaly flags exactly the median/MAD outliers") {
    val got = DataQuality.volumeAnomaly(spark, sfDir).collect()
    val counts = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).cast("string")).collect()
      .map(_.getString(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got.length == counts.size)
    // flags recompute from the published med/mad columns
    got.foreach { r =>
      val n = counts(r.getDate(0).toString)
      assert(r.getAs[Long]("n_events") == n)
      val expFlag = math.abs(n - r.getAs[Double]("med")) >
        DataQuality.VolumeRobustK * r.getAs[Double]("mad")
      assert(r.getAs[Boolean]("volume_anomaly") == expFlag)
    }
    // med is the true median of the daily series (odd/even handled by
    // the interpolating percentile; check within the fixedRound grid)
    val sorted = counts.values.toSeq.sorted
    val med = if (sorted.size % 2 == 1) sorted(sorted.size / 2).toDouble
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    assert(math.abs(got.head.getAs[Double]("med") - med) < 1e-4)
  }

  test("streaks match a brute-force gaps-and-islands recompute") {
    val got = Events.streaks(spark, sfDir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_active_days"), r.getAs[Long]("longest_streak"),
          r.getAs[Long]("n_streaks"))).toMap
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"), datediff(to_date(col("ts")),
        lit("1970-01-01").cast("date")).cast("long").as("eday"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
      .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).sorted }
    assert(got.keySet == days.keySet)
    days.foreach { case (u, ds) =>
      // island lengths by scanning consecutive-day runs
      val lens = scala.collection.mutable.ArrayBuffer.empty[Long]
      var run = 0L
      var prev = Long.MinValue
      ds.foreach { d =>
        if (run > 0 && d == prev + 1) run += 1
        else { if (run > 0) lens += run; run = 1 }
        prev = d
      }
      lens += run
      val (na, ls, ns) = got(u)
      assert(na == ds.length, s"user $u active days")
      assert(ls == lens.max, s"user $u longest")
      assert(ns == lens.length.toLong, s"user $u streak count")
    }
  }

  test("gini equals the driver-sorted closed form, bucketed global rank") {
    val row = Events.activityGini(spark, sfDir).head()
    val counts = Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("x")))
    val xs = counts.sortBy { case (u, x) => (x, u) }.map(_._2)
    val n = xs.length.toLong
    val s1 = xs.sum
    val s2 = xs.zipWithIndex.map { case (x, i) => (i + 1L) * x }.sum
    val gini = (2.0 * s2.toDouble - (n.toDouble + 1.0) * s1.toDouble) /
      (n.toDouble * s1.toDouble)
    assert(row.getAs[Long]("n_users") == n)
    assert(row.getAs[Long]("total_events") == s1)
    assert(row.getAs[Double]("gini") == gini, "identical IEEE closed form")
    assert(gini >= 0.0 && gini < 1.0)
  }

  test("A/B assignment partitions every user deterministically into 2 variants") {
    val rows = Events.abAssign(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("variant")).toSet == Set(0L, 1L))
    val totalUsers = Tables.events(spark, sfDir)
      .select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == totalUsers)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_clickers") <= r.getAs[Long]("n_users"))
      val cr = r.getAs[Double]("click_rate")
      val pr = r.getAs[Double]("purchase_rate")
      assert(cr >= 0.0 && cr <= 1.0 && pr >= 0.0 && pr <= 1.0)
    }
    // hash balance: neither arm is more than 60% of users (sf0.001 has
    // ~150 users; the multiplicative hash equidistributes sequential ids)
    val max = rows.map(_.getAs[Long]("n_users")).max
    assert(max.toDouble / totalUsers < 0.6)
    // determinism: a re-run yields the identical readout
    assert(Events.abAssign(spark, sfDir).collect().toSeq == rows.toSeq)
  }

  test("daily new users: news sum to the user base, actives match DAU") {
    val rows = Events.dailyNewUsers(spark, sfDir).collect()
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_new")).sum == users,
      "every user is new exactly once")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_new") + r.getAs[Long]("n_returning") ==
        r.getAs[Long]("n_active"))
      assert(r.getAs[Long]("n_new") >= 0 && r.getAs[Long]("n_returning") >= 0)
    }
    // the first observed day is all-new by definition
    val first = rows.minBy(_.getAs[java.sql.Date]("day").toLocalDate.toEpochDay)
    assert(first.getAs[Long]("n_returning") == 0L)
  }

  test("session histogram: both metrics partition the session set") {
    val rows = Events.sessionHistogram(spark, sfDir).collect()
    val nSessions = Events.sessionize(spark, sfDir).count()
    Seq("n_events", "duration").foreach { m =>
      val mass = rows.filter(_.getAs[String]("metric") == m)
        .map(_.getAs[Long]("n_sessions")).sum
      assert(mass == nSessions, s"metric $m must cover every session")
    }
    rows.foreach { r =>
      if (r.getAs[String]("metric") == "duration")
        assert(r.getAs[Long]("lo") ==
          r.getAs[Long]("bucket") * Events.SessDurBucketSec)
      else assert(r.getAs[Long]("lo") == r.getAs[Long]("bucket"))
    }
  }

  test("activity curve: monotone non-increasing, anchored at total users") {
    val rows = Events.activityCurve(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("k"))
    val users = Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(rows.head.getAs[Long]("n_users_at_least") == users,
      "every user has >= min observed count")
    val atLeast = rows.map(_.getAs[Long]("n_users_at_least"))
    atLeast.sliding(2).foreach {
      case Array(a, b) => assert(b <= a, "survival curve must not rise")
      case _ => ()
    }
    assert(rows.map(_.getAs[Long]("n_users_exact")).sum == users)
    // each row's at-least equals the suffix sum of exact counts
    val exact = rows.map(r => r.getAs[Long]("k") -> r.getAs[Long]("n_users_exact"))
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      assert(r.getAs[Long]("n_users_at_least") ==
        exact.filter(_._1 >= k).map(_._2).sum)
    }
  }

  test("gap histogram: gap count = events minus first-per-(user,type)") {
    val rows = Events.gapHistogram(spark, sfDir).collect()
    val total = Tables.events(spark, sfDir).count()
    val firsts = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().count()
    assert(rows.map(_.getAs[Long]("n_gaps")).sum == total - firsts)
    rows.foreach { r =>
      assert(r.getAs[Long]("bucket") >= 0L)
      assert(r.getAs[Long]("gap_lo_sec") ==
        r.getAs[Long]("bucket") * Events.GapHistBucketSec)
    }
  }

  test("behavior diversity: bounded, single-type users at 1, counts reconcile") {
    val rows = Events.behaviorDiversity(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sfDir).count())
    rows.foreach { r =>
      val s = r.getAs[Double]("simpson")
      assert(s >= 0.0 && s <= 1.0)
      if (r.getAs[Long]("n_types") == 1L && r.getAs[Long]("n_events") >= 2)
        assert(s == 1.0, "a one-type user repeats with certainty")
      assert(r.getAs[Long]("n_types") <= r.getAs[Long]("n_events"))
    }
  }

  test("conversion lag: only viewed purchases counted, buckets non-negative") {
    val rows = Events.conversionLag(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val purchases = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase").count()
    assert(rows.map(_.getAs[Long]("n_conversions")).sum <= purchases)
    rows.foreach { r =>
      assert(r.getAs[Long]("bucket") >= 0L)
      assert(r.getAs[Long]("lag_lo_sec") ==
        r.getAs[Long]("bucket") * Events.ConvLagBucketSec)
      assert(r.getAs[Long]("n_users") <= r.getAs[Long]("n_conversions"))
    }
  }

  test("reactivation: actives reconcile, flags replay a driver recompute") {
    val rows = Events.reactivation(spark, sfDir).collect()
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    assert(rows.map(_.getAs[Long]("n_active_users")).sum == ud.count())
    // driver replay of the dormancy rule
    val byUser = ud.collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val expReact = byUser.values.flatMap { days =>
      days.zip(days.tail).collect {
        case (p, d) if d - p >= Events.DormantDays => d
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    rows.foreach { r =>
      val d = r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay
      assert(r.getAs[Long]("n_reactivated") == expReact.getOrElse(d, 0L),
        s"day $d")
    }
  }

  test("hourly profile: cells cover every event, shares sum to 1 per type") {
    val rows = Events.hourlyProfile(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sfDir).count())
    rows.foreach { r =>
      val h = r.getAs[Int]("hour_of_day")
      assert(h >= 0 && h <= 23)
    }
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, cells) =>
      assert(math.abs(cells.map(_.getAs[Double]("share_of_type")).sum - 1.0) < 1e-9)
    }
  }

  test("trigram cells match a brute-force per-user sequence scan") {
    val seqs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("es"),
        r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
      .groupBy(_._1)
      .values.map(_.sortBy(t => (t._2, t._3)).map(_._4).toList)
    val expected = seqs.flatMap(_.sliding(3).filter(_.length == 3))
      .toList.groupBy(identity).map { case (t, g) => t -> g.length.toLong }
    val rows = Events.trigrams(spark, sfDir).collect()
    val got = rows.map(r => List(r.getAs[String]("t1"), r.getAs[String]("t2"),
      r.getAs[String]("t3")) -> r.getAs[Long]("n")).toMap
    assert(got == expected)
    // conditional probabilities sum to 1 within every (t1, t2) prefix
    rows.groupBy(r => (r.getAs[String]("t1"), r.getAs[String]("t2")))
      .foreach { case (_, cells) =>
        assert(math.abs(cells.map(_.getAs[Double]("prob")).sum - 1.0) < 1e-9)
      }
  }

  test("markov stationary matches a brute-force power-iteration replay") {
    val cells = Events.transitions(spark, sfDir).collect()
      .map(r => ((r.getAs[String]("from_type"), r.getAs[String]("to_type")),
        r.getAs[Double]("prob"))).toMap
    val types = cells.keys.flatMap(k => Seq(k._1, k._2)).toList.distinct.sorted
    val s = Events.MarkovScale
    var pi: Map[String, Double] = types.map(_ -> 1.0 / types.length).toMap
    (1 to Events.MarkovIters).foreach { _ =>
      val raw = types.map { t =>
        t -> cells.collect { case ((f, tt), p) if tt == t =>
          BigInt(math.floor((pi(f) * p) * s).toLong)
        }.sum
      }.toMap
      val tot = raw.values.sum
      pi = raw.map { case (t, r) => t -> r.toDouble / tot.toDouble }
    }
    val rows = Events.markovStationary(spark, sfDir).collect()
    assert(rows.length == types.length)
    rows.foreach { r =>
      assert(r.getAs[Double]("stationary_prob") ==
        pi(r.getAs[String]("event_type")))
    }
    // a probability distribution: mass ~1 (floor loss bounded)
    assert(math.abs(pi.values.sum - 1.0) < 1e-6)
  }
}
