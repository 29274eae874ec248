package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Batch twins of the streaming operators (graft.streaming runs the
  * same logic incrementally): tumbling-window aggregation and gap-based
  * sessionization over `events`.
  *
  * Timestamps are truncated to seconds before any gap/window arithmetic
  * so ns-vs-µs storage precision can never flip a boundary.
  */
object Events {

  val SessionGapSec = 1800L

  /** 5-minute tumbling windows per event type. */
  def windowedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Gold.moneySum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** (user_id, event_id, es): tz-agnostic epoch seconds per event —
    * computed from the NTZ wall clock (a cast to TIMESTAMP would make
    * downstream gap/range math depend on the session time zone).
    * Shared by sessionize and IntervalJoin. */
  def eventsWithEpochSeconds(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))

  /** 30-minute-gap sessions per user: lag → new-session flag → running
    * sum as session index → per-session aggregate. One shuffle on
    * user_id; everything after is window/aggregate within partitions. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = eventsWithEpochSeconds(spark, dir)
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    e.withColumn("prev", lag(col("es"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("es") - col("prev") > SessionGapSec, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("es")).as("session_start_es"),
        (max(col("es")) - min(col("es"))).as("duration_sec"))
      .orderBy("user_id", "session_idx")
  }

  val SlideWindowSec = 3600L
  val SlideHopSec = 900L

  /** `str_sliding_agg`: hopping (sliding) window aggregation — 1-hour
    * windows advancing every 15 minutes, so each event lands in
    * window/hop = 4 overlapping windows (the "smooth" trend view a
    * tumbling window can't give; the streaming twin is the same
    * `window(ts, W, hop)` spec under a watermark).
    *
    * Scale shape: the 4× row expansion happens MAP-SIDE (Spark's window
    * generator inside the scan stage), then one partial-aggregated
    * groupBy on (window, type) — the same single shuffle as the
    * tumbling version, just 4× the pre-aggregated input, and the
    * per-window money sums are fixed-point decimal. Timestamps are
    * second-truncated before windowing per the repo invariant. */
  def slidingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // second-truncate WITHOUT date_trunc: that builtin coerces
      // TIMESTAMP_NTZ to session-zone TIMESTAMP (the LTZ trap the repo
      // invariant bans); diff+add against the NTZ epoch stays NTZ
      .select(expr(
        """timestampadd(SECOND,
          |  timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts),
          |  TIMESTAMP_NTZ '1970-01-01 00:00:00')""".stripMargin).as("tss"),
        col("event_type"), col("value"))
      .groupBy(window(col("tss"), s"$SlideWindowSec seconds",
        s"$SlideHopSec seconds").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Gold.moneySum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Semi-structured props extraction: pull typed fields out of the
    * JSON payload column (get_json_object is codegen'd; no UDF). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy("event_id")

  /** Per-type value quantiles. `percentile` here is the exact
    * sort-based aggregate (oracle-comparable); [[valueQuantilesApprox]]
    * is the same plan on the mergeable sketch. */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    valueQuantilesImpl(spark, dir, exactPct = true)

  /** The 100-TB twin: `approx_percentile` (Greenwald-Khanna, bounded
    * memory, one pass) via [[Gold.pct]] — identical plan shape and
    * fixedRound'd schema; tolerance-vs-exact asserted in
    * PercentileScaleSpec. The exact path stays the oracle. */
  def valueQuantilesApprox(spark: SparkSession, dir: String): DataFrame =
    valueQuantilesImpl(spark, dir, exactPct = false)

  private def valueQuantilesImpl(spark: SparkSession, dir: String,
      exactPct: Boolean): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        Gold.fixedRound(Gold.pct("value", 0.5, exactPct), 4).as("p50"),
        Gold.fixedRound(Gold.pct("value", 0.9, exactPct), 4).as("p90"),
        Gold.fixedRound(Gold.pct("value", 0.99, exactPct), 4).as("p99"))
      .orderBy("event_type")

  /** Conversion funnel view → click → purchase: per user, the earliest
    * view, the earliest click strictly after that view, and the earliest
    * purchase strictly after that click. Each stage is one
    * partial-aggregating groupBy joined to the previous stage's
    * 1-row-per-user aggregate — all keyed on user_id, so AQE keeps the
    * stages co-partitioned and nothing ever broadcasts the fact. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"), col("event_type"),
      expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        .as("es"))
    val v = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("es").as("view_es"))
    val c = e.where(col("event_type") === "click").join(v, "user_id")
      .where(col("es") > col("view_es"))
      .groupBy("user_id").agg(min("es").as("click_es"))
    val p = e.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("es") > col("click_es"))
      .groupBy("user_id").agg(min("es").as("purchase_es"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .orderBy("user_id")
  }

  /** `evt_winsorize`: percentile capping (winsorization) — clamp every
    * value into its type's [p01, p99] band, the standard outlier
    * treatment before feature extraction or model-input export (drop
    * nothing, cap the tails). Bounds go through [[Gold.fixedRound]] at
    * 4 decimals BEFORE the clamp: the two engines' linear-interpolation
    * percentile can differ in the last ulp, and rounding the bound (not
    * the data) makes the clamp band bit-identical by construction.
    *
    * Scale shape: one per-type percentile aggregate (#types rows,
    * broadcast back — the [[Gold.pct]] strategy: exact sort-based on
    * the oracle path, `approx_percentile` in [[winsorizeApprox]], same
    * plan), then a map-side clamp; the fact shuffles never. */
  /** Per-type [p01, p99] clamp bounds (fixedRound'd) — shared by the
    * batch operator and the stream-static scoring twin. */
  def winsorizeBoundsOf(events: DataFrame, exactPct: Boolean = true): DataFrame =
    events.groupBy("event_type")
      .agg(Gold.fixedRound(Gold.pct("value", 0.01, exactPct), 4).as("lo"),
        Gold.fixedRound(Gold.pct("value", 0.99, exactPct), 4).as("hi"))

  /** The clamp itself — stateless, map-side against broadcast bounds. */
  def winsorizeWith(events: DataFrame, bounds: DataFrame): DataFrame =
    events.join(broadcast(bounds), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        least(greatest(col("value"), col("lo")), col("hi")).as("clamped"),
        (col("value") < col("lo") || col("value") > col("hi")).as("was_capped"))

  def winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorizeWith(Tables.events(spark, dir),
      winsorizeBoundsOf(Tables.events(spark, dir)))
      .orderBy("event_id")

  /** The 100-TB twin: clamp bounds from the mergeable sketch
    * ([[Gold.pct]]); clamp pass identical. Tolerance-vs-exact asserted
    * in PercentileScaleSpec; the exact path stays the oracle. */
  def winsorizeApprox(spark: SparkSession, dir: String): DataFrame =
    winsorizeWith(Tables.events(spark, dir),
      winsorizeBoundsOf(Tables.events(spark, dir), exactPct = false))
      .orderBy("event_id")

  /** MAD multiplier for the robust outlier flag: |x − median| > K·MAD.
    * 5 MADs ≈ 3.4σ on Gaussian data — comparable strictness to the
    * 3σ z-score flag, but immune to the outliers themselves inflating
    * the scale estimate (the failure mode of [[valueAnomalies]] on
    * heavy-tailed data). */
  val RobustK = 5.0

  /** `evt_robust_anomaly`: median/MAD outlier detection — the robust
    * twin of the z-score flag. Median and MAD both go through
    * [[Gold.fixedRound]] so the flag threshold is engine-identical;
    * the comparison itself is three IEEE ops on exact inputs.
    *
    * Scale shape: two tiny per-type aggregates (median, then MAD of
    * the residuals — each #types rows, broadcast back), one map-side
    * flag pass; the fact is scanned twice but never shuffled (both
    * medians come from `approx_percentile` in
    * [[robustAnomaliesApprox]], same plan). */
  def robustAnomalies(spark: SparkSession, dir: String): DataFrame =
    robustAnomaliesImpl(spark, dir, exactPct = true)

  /** The 100-TB twin: median and MAD from the mergeable sketch
    * ([[Gold.pct]]); flag pass identical. Tolerance-vs-exact asserted
    * in PercentileScaleSpec; the exact path stays the oracle. */
  def robustAnomaliesApprox(spark: SparkSession, dir: String): DataFrame =
    robustAnomaliesImpl(spark, dir, exactPct = false)

  private def robustAnomaliesImpl(spark: SparkSession, dir: String,
      exactPct: Boolean): DataFrame = {
    val e = Tables.events(spark, dir)
    val med = e.groupBy("event_type")
      .agg(Gold.fixedRound(Gold.pct("value", 0.5, exactPct), 4).as("med"))
    val mad = e.join(broadcast(med), "event_type")
      .groupBy("event_type", "med")
      .agg(Gold.fixedRound(Gold.pct("abs(value - med)", 0.5, exactPct), 4).as("mad"))
    e.join(broadcast(mad), "event_type")
      .where(abs(col("value") - col("med")) > lit(RobustK) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"))
      .orderBy("event_id")
  }

  /** Path truncation for [[userPaths]] — keep the first 20 steps; a
    * bot with a million events cannot blow up the output row. */
  val MaxPathLen = 20

  /** `evt_user_paths`: the ordered event-type journey per user (first
    * [[MaxPathLen]] steps joined `a>b>c`) plus the total event count —
    * the sequence-mining/journey-analysis export (path frequency
    * tables, funnel discovery, session replay sampling).
    *
    * Scale shape: ONE partial-aggregated groupBy on user_id; per-group
    * state is the collected type array, bounded by a user's event count
    * (heavy users exist but are bounded — [[heavyUsers]] is the audit
    * for that), and the emitted path is truncated. The sort is
    * per-group `array_sort` on (es, event_id) structs — deterministic
    * total order, no global window. */
  def userPaths(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"),
        col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sort_array(collect_list(struct(col("es"), col("event_id"),
          col("event_type")))).as("seq"))
      .select(col("user_id"), col("n_events"),
        array_join(expr(s"transform(slice(seq, 1, $MaxPathLen), x -> x.event_type)"),
          ">").as("path"))
      .orderBy("user_id")

  /** Attribution lookback: a purchase credits the last view/click at
    * most this many seconds before it; older (or absent) touches fall
    * to the 'direct' channel. */
  val AttributionWindowSec = 3600L

  /** `evt_attribution`: last-touch revenue attribution — every purchase
    * credits its full value to the user's most recent view/click within
    * [[AttributionWindowSec]] (the marketing-analytics workhorse; the
    * multi-touch variants change only the credit expression).
    *
    * Scale shape: ONE shuffle on user_id for the sequence window (two
    * ignore-null `last` calls over the same frame pick the same touch
    * row, so type and time stay consistent), then a #channels-sized
    * money aggregate. The frame ends at 1 PRECEDING, so "before the
    * purchase" is positional on the total (es, event_id) order — no
    * self-join, no per-purchase subquery. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))
    val isTouch = col("event_type").isin("view", "click")
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("t_es", last(when(isTouch, col("es")), ignoreNulls = true).over(w))
      .withColumn("t_type",
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(
        when(col("t_es").isNotNull &&
          col("es") - col("t_es") <= AttributionWindowSec, col("t_type"))
          .otherwise("direct").as("channel"),
        col("value"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        Gold.moneySum(col("value")).as("attributed_revenue"))
      .orderBy("channel")
  }

  /** `evt_attribution_linear`: multi-touch (linear) attribution — every
    * purchase splits its value EQUALLY across all of the user's
    * view/click touches in the [[AttributionWindowSec]] lookback
    * (strictly before the purchase second); untouched purchases credit
    * 'direct' in full. The fairness-over-recency counterpart of
    * [[attribution]]; position/time-decay variants change only the
    * credit expression.
    *
    * Scale shape: the purchase×touch range join is the repo's
    * time-bucket equi-join (purchases explode to 2 window-width
    * buckets, touches bucket once, join on (user, bucket) then exact
    * range filter — never an unbounded inequality join); per-purchase
    * touch counts are purchase-keyed partial aggregates, credits are
    * two IEEE ops on exact integers, channel sums are fixed-point. */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val w = AttributionWindowSec
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))
    val p = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("es").as("p_es"), col("value"))
    val t = e.where(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("es").as("t_es"),
        col("event_type").as("channel"),
        expr(s"es DIV $w").as("bucket"))
    val cand = p
      .select(col("user_id"), col("p_id"), col("p_es"), col("value"),
        explode(array(expr(s"p_es DIV $w"), expr(s"p_es DIV $w - 1")))
          .as("bucket"))
      .join(t, Seq("user_id", "bucket"))
      .where(col("t_es") >= col("p_es") - w && col("t_es") < col("p_es"))
      .select("p_id", "value", "channel")
    val per = cand.groupBy("p_id", "value").agg(count(lit(1)).as("n"))
    val cc = per.join(
      cand.groupBy("p_id", "channel").agg(count(lit(1)).as("cnt")), "p_id")
      .select(col("p_id"), col("channel"),
        ((col("value") * col("cnt")) / col("n")).as("credit"))
    val direct = p.join(cand.select("p_id").distinct(), Seq("p_id"), "left_anti")
      .select(col("p_id"), lit("direct").as("channel"), col("value").as("credit"))
    cc.unionByName(direct)
      .groupBy("channel")
      .agg(countDistinct(col("p_id")).as("n_purchases"),
        Gold.moneySum(col("credit")).as("credited_revenue"))
      .orderBy("channel")
  }

  /** `evt_transitions`: first-order Markov transition matrix of event
    * types — per user, consecutive event pairs (ordered by time,
    * event_id tiebreak) are counted into `(from_type, to_type)` cells
    * with the row-conditional probability P(to | from). The behavioral
    * model behind next-action prediction, funnel-anomaly detection and
    * session simulation.
    *
    * Scale shape: ONE shuffle on user_id for the lag window (sequences
    * are per-user, so partitions are independent), then a tiny
    * (#types²) aggregate with map-side partials; the probability is a
    * single exact BIGINT→DOUBLE division per output cell. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val pairs = e
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("row_n"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("row_n")).as("prob"))
      .orderBy("from_type", "to_type")
  }

  /** `evt_trigrams`: the order-3 extension of [[transitions]] — every
    * consecutive event-type triple within a user's timeline, with the
    * cell count and the conditional next-step probability
    * P(t3 | t1, t2). Order-2 context is where sequence models start
    * beating the plain transition matrix (the next-action baseline a
    * behavioral-cloning or session-simulation pipeline trains
    * against); the output stays ≤ |types|³ rows.
    *
    * Scale shape: ONE shuffle on user_id drives BOTH lags (same
    * window — one sort, two frame reads), then a types³-sized
    * aggregate with map-side partials and a broadcast prefix-total
    * join. The probability is one exact BIGINT→DOUBLE division. */
  def trigrams(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
    val cells = e
      .withColumn("t1", lag(col("event_type"), 2).over(w))
      .withColumn("t2", lag(col("event_type"), 1).over(w))
      .where(col("t1").isNotNull)
      .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
      .agg(count(lit(1)).as("n"))
    val prefix = cells.groupBy("t1", "t2").agg(sum("n").as("prefix_n"))
    cells.join(broadcast(prefix), Seq("t1", "t2"))
      .select(col("t1"), col("t2"), col("t3"), col("n"),
        (col("n").cast("double") / col("prefix_n")).as("prob"))
      .orderBy("t1", "t2", "t3")
  }

  /** Power-iteration rounds and fixed-point scale for
    * [[markovStationary]]. */
  val MarkovIters = 3
  val MarkovScale = 1000000000L

  /** `evt_markov_stationary`: the long-run state distribution of the
    * [[transitions]] Markov chain — π after [[MarkovIters]] power-
    * iteration rounds from uniform, i.e. "where does a user's session
    * settle if behavior keeps its measured dynamics": the equilibrium
    * companion to the one-step matrix and the trigram cells.
    *
    * Determinism: each contribution floors (π_i · P(j|i)) at
    * [[MarkovScale]] into a DECIMAL sum over the ≤|types| inbound
    * terms, and each round L1-renormalizes by a broadcast 1-row total
    * ([[graft.operators.Graph.pagerankOn]]'s discipline shrunk to a
    * types×types chain), so the doubles are engine-identical and the
    * op carries an unrolled-SQL oracle. Types with no inbound
    * transition keep an explicit 0 via a left join. Scale shape: the
    * cell table is types²-sized METADATA — every round is
    * catalog-sized work regardless of corpus size. */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val cells = transitions(spark, dir)
      .select(col("from_type"), col("to_type"), col("prob")).localCheckpoint()
    val types = cells.select(col("from_type").as("t")).unionAll(
      cells.select(col("to_type").as("t"))).distinct().localCheckpoint()
    val n = types.agg(count(lit(1)).cast("double").as("nd"))
    var pi = types.crossJoin(broadcast(n))
      .select(col("t"), (lit(1.0) / col("nd")).as("p"))
    (1 to MarkovIters).foreach { _ =>
      val raw = cells
        .join(pi.withColumnRenamed("t", "from_type"), "from_type")
        .groupBy(col("to_type").as("t"))
        .agg(sum(floor((col("p") * col("prob")) * lit(MarkovScale))
          .cast(dec)).as("r"))
        .localCheckpoint()
      val tot = raw.agg(sum("r").as("tot"))
      pi = types.join(raw, Seq("t"), "left").crossJoin(broadcast(tot))
        .select(col("t"),
          (coalesce(col("r"), lit(0).cast(dec)).cast("double")
            / col("tot").cast("double")).as("p"))
    }
    pi.select(col("t").as("event_type"), col("p").as("stationary_prob"))
      .orderBy("event_type")
  }

  val WeekSec = 604800L

  /** Weekly cohort retention: users bucketed by the epoch week of their
    * first event; `n_users` counts distinct users from cohort week `c`
    * active again `week_offset` weeks later. Week indices are pure
    * integer arithmetic on epoch seconds — no calendar, no time zone,
    * engine-portable by construction. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"),
      expr(s"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) DIV $WeekSec")
        .as("wk"))
    val cohort = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    e.join(cohort, "user_id")
      .select(col("user_id"), col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("week_offset"))
      .distinct()
      .groupBy("cohort_wk", "week_offset").agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  /** Histogram bucket width for `valueHistogram`. */
  val HistBucketWidth = 50L

  /** Per-type value histogram: fixed-width buckets via pure integer
    * arithmetic on the floored (non-negative) value — one partial-
    * aggregating groupBy, no shuffle beyond the aggregate, portable by
    * construction. */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        (expr(s"CAST(FLOOR(value) AS BIGINT) DIV $HistBucketWidth")
          * HistBucketWidth).as("bucket_lo"))
      .groupBy("event_type", "bucket_lo")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("event_type", "bucket_lo")

  /** `evt_hourly_profile`: hour-of-day × event-type activity profile
    * with each cell's share of its type's total — the diurnal-shape
    * view behind load forecasting and bot triage (a type whose traffic
    * doesn't breathe with the day is scripted; see [[botRate]] for the
    * per-user flag).
    *
    * Scale shape: ONE partial-aggregating groupBy on a 24×|types| key
    * space (map-side combine collapses the fact to ≤ 24·types rows
    * before the shuffle); the per-type totals are an aggregate OF that
    * aggregate — metadata — broadcast back for the share division.
    * Hour extraction is integer arithmetic on the second-truncated
    * timestamp; value mass is fixed-point. */
  def hourlyProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(hour(col("ts")).as("hour_of_day"), col("event_type"), col("value"))
      .groupBy("hour_of_day", "event_type")
      .agg(count(lit(1)).as("n_events"),
        Gold.moneySum(col("value")).as("value_sum"))
    val totals = cells.groupBy("event_type")
      .agg(sum(col("n_events")).as("type_total"))
    cells.join(broadcast(totals), "event_type")
      .select(col("hour_of_day"), col("event_type"), col("n_events"),
        col("value_sum"),
        (col("n_events").cast("double") / col("type_total").cast("double"))
          .as("share_of_type"))
      .orderBy("hour_of_day", "event_type")
  }

  /** `evt_behavior_diversity`: per-user behavioral concentration — the
    * Simpson repeat probability over the user's event-TYPE mix
    * (Σc(c−1)/n(n−1)): near 1 = a single-action loop (scripted
    * clients, crawlers — the content-free cousin of [[botRate]]'s
    * rate flag), low = organically mixed behavior. The
    * transcendental-free entropy dual, the [[TextAnalysis
    * .lexicalDiversity]] statistic applied to event streams.
    *
    * Scale shape: two co-keyed partial aggregates (user×type, then
    * user), all-integer sufficient statistics, one IEEE division. */
  def behaviorDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("c") * (col("c") - 1)).as("rep"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        when(col("n_events") >= 2,
          col("rep").cast("double")
            / (col("n_events") * (col("n_events") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("simpson"))
      .orderBy("user_id")

  /** `evt_activity_curve`: the power-user survival curve — for every
    * observed per-user event count k, how many users produced ≥ k
    * events. The engagement artifact behind "N% of users generate M%
    * of activity" claims and power-user tier cuts; [[activityGini]]
    * compresses this curve to one scalar, this is the curve itself.
    *
    * Scale shape: users collapse to counts (one shuffle), counts to a
    * histogram (metadata); the ≥k suffix-cumulative runs as a
    * self-join over the HISTOGRAM (count-of-counts rows — O(√mass) by
    * the usual heavy-tail argument), never a window over users. */
  def activityCurve(spark: SparkSession, dir: String): DataFrame = {
    val hist = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_users_exact"))
    hist
      .join(hist.select(col("k").as("k2"), col("n_users_exact").as("n2")),
        col("k2") >= col("k"), "left")
      .groupBy("k", "n_users_exact")
      .agg(sum(col("n2")).as("n_users_at_least"))
      .orderBy("k")
  }

  /** `evt_daily_new_users`: daily growth accounting — per day, active
    * users split into first-ever-seen and returning (the events-side
    * analog of [[graft.operators.Gold.newVsReturning]]'s revenue
    * split; DAU alone hides whether growth is acquisition or
    * retention).
    *
    * Scale shape: the fact collapses to DISTINCT (user, day) in one
    * shuffle; the first-seen day is a second aggregate of THAT table
    * joined back co-partitioned on user_id; the day rollup is
    * calendar metadata. Integer epoch-day math, no window. */
  def dailyNewUsers(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("eday"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min(col("eday")).as("first_day"))
    ud.join(first, "user_id")
      .groupBy("eday")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("eday") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("eday").cast("int")).as("day"),
        col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"))
      .orderBy("day")
  }

  /** Duration bucket (seconds) for [[sessionHistogram]]: five
    * minutes. */
  val SessDurBucketSec = 300L

  /** `evt_session_histogram`: session shape distributions — one
    * long-form table with two metrics: sessions per event-count and
    * sessions per 5-minute duration band, over [[sessionize]]'s
    * output. The reporting view session-length product decisions read
    * (and the input to choosing [[SessionGapSec]] itself).
    *
    * Scale shape: inherits the one user-keyed shuffle from
    * [[sessionize]]; both rollups are histogram-cardinality
    * aggregates of the (already session-grain) output, unioned as two
    * metadata-sized frames. */
  def sessionHistogram(spark: SparkSession, dir: String): DataFrame = {
    val s = sessionize(spark, dir)
    val byEvents = s.groupBy(col("n_events").as("bucket"))
      .agg(count(lit(1)).as("n_sessions"))
      .select(lit("n_events").as("metric"), col("bucket"),
        col("bucket").as("lo"), col("n_sessions"))
    val byDur = s
      .select(expr(s"duration_sec DIV $SessDurBucketSec").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_sessions"))
      .select(lit("duration").as("metric"), col("bucket"),
        (col("bucket") * SessDurBucketSec).as("lo"), col("n_sessions"))
    byEvents.unionAll(byDur).orderBy("metric", "bucket")
  }

  /** Bucket width (seconds) for [[gapHistogram]]: ten minutes. */
  val GapHistBucketSec = 600L

  /** `evt_gap_histogram`: inter-event time distribution — per event
    * type, a histogram of the gaps between a user's consecutive events
    * of that type. The burstiness profile that calibrates session
    * gaps, retention nudge timing and bot thresholds (a scripted
    * client's gaps concentrate in one bucket; organic gaps spread).
    *
    * Scale shape: one (user, type)-keyed lag window (bounded by one
    * user's events of one type — the [[sessionize]] discipline), then
    * a histogram-cardinality groupBy; integer second/bucket math. */
  def gapHistogram(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("es", "event_id")
    e.withColumn("prev", lag(col("es"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("event_type"),
        expr(s"(es - prev) DIV $GapHistBucketSec").as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n_gaps"))
      .withColumn("gap_lo_sec", col("bucket") * GapHistBucketSec)
      .select("event_type", "bucket", "gap_lo_sec", "n_gaps")
      .orderBy("event_type", "bucket")
  }

  /** Histogram bucket (seconds) for [[conversionLag]]: one hour. */
  val ConvLagBucketSec = 3600L

  /** `evt_conversion_lag`: view→purchase latency histogram — for every
    * purchase with a prior view by the same user, the time since that
    * LAST view, bucketed by hour. The funnel-latency distribution that
    * sizes retargeting windows and attribution lookbacks (the
    * aggregate dual of [[attribution]]'s per-event credit).
    *
    * Scale shape: one user-keyed shuffle; the last-view lookup is a
    * running conditional MAX over a (user, time)-ordered window frame
    * ending 1 ROW before current — bounded by one user's events, the
    * [[sessionize]] discipline, with the unique event_id tiebreak
    * making the frame deterministic; the histogram rollup is
    * bucket-cardinality metadata. Integer second/bucket math
    * throughout. */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))
    val w = Window.partitionBy("user_id").orderBy("es", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("last_view_es",
        max(when(col("event_type") === "view", col("es"))).over(w))
      .where(col("event_type") === "purchase" && col("last_view_es").isNotNull)
      .select(col("user_id"),
        expr(s"(es - last_view_es) DIV $ConvLagBucketSec").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_conversions"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("lag_lo_sec", col("bucket") * ConvLagBucketSec)
      .select("bucket", "lag_lo_sec", "n_conversions", "n_users")
      .orderBy("bucket")
  }

  /** Inactivity gap (days) after which a returning user counts as
    * reactivated in [[reactivation]]. */
  val DormantDays = 14

  /** `evt_reactivation`: daily win-back monitor — of each day's active
    * users, how many return from a ≥ [[DormantDays]]-day dormancy (the
    * re-engagement campaign readout, the flip side of churn; read next
    * to [[streaks]]' continuity view).
    *
    * Scale shape: the fact collapses to DISTINCT (user, day) in one
    * shuffle (integer epoch-day math); the previous-active-day lookup
    * is a lag window partitioned by user — bounded by one user's
    * active days, never global; the day rollup is calendar-sized
    * metadata. */
  def reactivation(spark: SparkSession, dir: String): DataFrame =
    reactivationWithGap(spark, dir, DormantDays.toLong)

  /** [[reactivation]] with a caller-chosen dormancy gap (the streaming
    * parity spec exercises a small gap where this corpus has no
    * 14-day dormancy). */
  def reactivationWithGap(spark: SparkSession, dir: String,
      gapDays: Long): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("eday"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("eday")
    ud.withColumn("prev", lag(col("eday"), 1).over(w))
      .groupBy("eday")
      .agg(count(lit(1)).as("n_active_users"),
        sum(when(col("prev").isNotNull &&
            col("eday") - col("prev") >= gapDays, 1L).otherwise(0L))
          .as("n_reactivated"))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("eday").cast("int")).as("day"),
        col("n_active_users"), col("n_reactivated"),
        (col("n_reactivated").cast("double") / col("n_active_users").cast("double"))
          .as("reactivation_rate"))
      .orderBy("day")
  }

  /** Items reported per day by [[trendingItems]]. */
  val TrendK = 3

  /** `evt_trending`: top-[[TrendK]] items per day by view/click count —
    * the "what's hot today" merchandising feed, composed from the JSON
    * item key ([[jsonExtract]]'s column) and the bounded-heap top-k.
    *
    * Scale shape: the fact collapses to (day, item) counts in ONE
    * partial-aggregating groupBy (the JSON probe runs map-side before
    * the shuffle); the per-day top-k is the bounded-heap
    * `graft_top_k_by_score` aggregate — map-side partial heaps of k
    * entries, never a per-day sort window over the item space. Ties
    * break to the smaller item id (the heap's contract), mirrored in
    * the oracle's ORDER BY. */
  def trendingItems(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click"))
      .select(to_date(col("ts")).as("day"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .groupBy("day", "item").agg(count(lit(1)).as("n"))
      .groupBy("day")
      .agg(call_function("graft_top_k_by_score",
        col("n").cast("double"), col("item"), lit(TrendK)).as("topk"))
      .select(col("day"), posexplode(col("topk")))
      .select(col("day"), (col("pos") + 1).cast("int").as("rn"),
        col("col.id").as("item"), col("col.score").cast("bigint").as("n_events"))
      .orderBy("day", "rn")
  }

  /** Misra-Gries counter budget for heavy-user detection — deliberately
    * below the distinct-user cardinality so the sketch genuinely
    * decrements (and the guarantee, not exactness, is what's tested). */
  val MgK = 1024

  /** Heavy users (frequency > N/(MgK+1)) in two bounded passes: the
    * Misra-Gries sketch (one pass, k counters, map-side-mergeable —
    * [[graft.functions.HeavyHitters]]) yields a candidate superset; the
    * candidates (≤ k ids) broadcast back for an exact recount, and the
    * integer threshold `cnt·(k+1) > N` keeps only true heavy hitters.
    * Result is EXACT and deterministic — the sketch only prunes — while
    * an exact `GROUP BY user_id` first pass would shuffle every
    * distinct key at 100 TB. */
  def heavyUsers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id")
    // the sketch lands in ONE driver row (≤ k candidate ids + the total
    // count — O(k) metadata, the same class of driver materialization as
    // the pipeline's 1-row DQ gate); injecting candidates/n as literals
    // guarantees pass two is the only other fact scan — referencing the
    // unmaterialized aggregate twice would rebuild the sketch unless
    // ReusedExchange happens to fire
    val row = e.agg(
      call_function("graft_heavy_hitters", col("user_id"), lit(MgK)).as("cand"),
      count(lit(1)).as("n")).head()
    val n = row.getAs[Long]("n")
    val candidates = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("cand")
      .map(_.getAs[Long]("id"))
    // ≤ k ids → a codegen'd InSet filter on the scan, no join at all
    e.where(col("user_id").isin(candidates.toSeq: _*))
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .where(col("n_events") * (MgK + 1) > lit(n))
      .select(col("user_id"), col("n_events"))
      .orderBy("user_id")
  }

  val AnomalyZ = 3.0

  /** Per-type z-score outliers with EXACT distributed moments: sum(x)
    * and sum(x²) accumulate as fixed-point decimals (order-independent,
    * merge-safe — the same trick as [[Gold.moneySum]]), so mean/stddev
    * are bit-identical under any partitioning and the |x−μ| > 3σ flag
    * is reproducible cross-engine. One aggregate pass over the fact +
    * one broadcast join of the tiny per-type stats back onto it. */
  def valueStatsOf(e: DataFrame): DataFrame =
    e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      Gold.moneySum(col("value")).as("sx"),
      Gold.moneySum(col("value") * col("value")).as("sxx"))
      .select(col("event_type"), (col("sx") / col("n")).as("mean"),
        sqrt(col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")))
          .as("std"))

  /** The scorer half, shared with the streaming twin (which joins a
    * live stream against precomputed static stats). */
  def anomaliesOf(e: DataFrame, stats: DataFrame): DataFrame =
    e.join(broadcast(stats), Seq("event_type"))
      .where(abs(col("value") - col("mean")) > lit(AnomalyZ) * col("std"))
      .select(col("event_id"), col("event_type"), col("value"),
        Gold.fixedRound((col("value") - col("mean")) / col("std"), 4).as("z"))

  def valueAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    anomaliesOf(e, valueStatsOf(e)).orderBy("event_id")
  }

  /** Trailing window (days) for the rolling active-user count. */
  val WauWindowDays = 7L

  /** `evt_active_users`: per-day DAU, trailing-7-day WAU and the
    * DAU/WAU stickiness ratio — the engagement headline metric.
    *
    * Scale shape: ONE distinct-shuffle to (user, day) pairs first (the
    * fact never re-shuffles per window), then each pair expands
    * MAP-SIDE into the ≤7 window-end days it covers (explode of a
    * 7-element sequence inside the scan stage — the sliding-window
    * trick from [[slidingAgg]]), and one partial-aggregated
    * count-distinct per day closes it. Day arithmetic is integer
    * epoch-days (identical in both engines — no tz, no fp). */
  def activeUsers(spark: SparkSession, dir: String): DataFrame =
    activeUsersImpl(spark, dir, exact = true)

  /** The 100-TB twin: `approx_count_distinct` (HyperLogLog++, O(1)
    * mergeable state per day instead of a distinct-set shuffle whose
    * per-day group holds every active user id). Identical plan shape
    * and schema; tolerance-vs-exact asserted in EventsSpec. The exact
    * path stays the oracle. */
  def activeUsersApprox(spark: SparkSession, dir: String): DataFrame =
    activeUsersImpl(spark, dir, exact = false)

  private def activeUsersImpl(spark: SparkSession, dir: String,
      exact: Boolean): DataFrame = {
    def nUsers(c: Column): Column =
      if (exact) count_distinct(c) else approx_count_distinct(c)
    val ud = Tables.events(spark, dir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("eday"), col("user_id"))
      .distinct()
    val dau = ud.groupBy("eday").agg(nUsers(col("user_id")).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("eday"), col("eday") + lit(WauWindowDays - 1)))
          .as("eday"))
      .groupBy("eday").agg(nUsers(col("user_id")).as("wau"))
    dau.join(wau, Seq("eday"))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("eday").cast("int"))
          .as("day"),
        col("dau"), col("wau"),
        Gold.fixedRound(col("dau").cast("double") / col("wau").cast("double"), 4)
          .as("stickiness"))
      .orderBy("day")
  }

  /** `evt_user_features`: the per-user feature-store rollup — event
    * counts (total, per funnel stage, distinct types), fixed-point
    * value sum, first/last activity and active-day count in ONE
    * partial-aggregating groupBy of the fact (the model-training
    * feature extraction every churn/propensity pipeline starts from;
    * at 100 TB this is the same single shuffle, keyed on user_id).
    * Day and second arithmetic is integer epoch math. */
  def userFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("event_type")).as("n_types"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_views"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        Gold.moneySum(col("value")).as("total_value"),
        min(col("es")).as("first_es"),
        max(col("es")).as("last_es"),
        count_distinct(expr("es DIV 86400")).as("active_days"))
      .orderBy("user_id")

  /** Burst threshold: a user whose busiest hour holds this many events
    * gets the bot/abuse flag. */
  val BotMaxPerHour = 3L

  /** `evt_bot_rate`: superhuman-rate detection — per user, the busiest
    * one-hour bucket's event count, flagged against [[BotMaxPerHour]].
    * The cheap first-line spam/bot filter a training-data pipeline
    * runs before any content model (scripted clients cluster into a
    * few wall-clock buckets; humans don't).
    *
    * Scale shape: two partial-aggregating groupBys — (user, hour) then
    * user — both keyed on user_id, so AQE reuses one exchange; hour
    * bucketing is integer epoch DIV. No window, no self-join. */
  def botRate(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)" +
          " DIV 3600").as("hr"))
      .groupBy("user_id", "hr").agg(count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(sum(col("n")).as("n_events"), max(col("n")).as("max_per_hour"))
      .select(col("user_id"), col("n_events"), col("max_per_hour"),
        (col("max_per_hour") >= BotMaxPerHour).as("burst_flag"))
      .orderBy("user_id")

  /** `evt_cart_abandonment`: daily click-without-purchase rate — per
    * day, how many users clicked and what share never purchased that
    * day (the retail funnel-leak headline between [[funnel]]'s
    * sequence view and [[retention]]'s longitudinal view).
    *
    * Scale shape: the [[botRate]] two-phase — one partial-aggregating
    * groupBy on (day, user) computing both flags as max-of-case (no
    * distinct, no join between the click and purchase streams), then a
    * day-cardinality rollup. Integer epoch-day math; one IEEE divide
    * of two exact counts. */
  def cartAbandonment(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("long").as("eday"), col("user_id"), col("event_type"))
      .groupBy("eday", "user_id")
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicked"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
      .where(col("clicked") === 1L)
      .groupBy("eday")
      .agg(count(lit(1)).as("n_clickers"),
        sum(when(col("purchased") === 0L, 1L).otherwise(0L)).as("n_abandoned"))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("eday").cast("int")).as("day"),
        col("n_clickers"), col("n_abandoned"),
        (col("n_abandoned").cast("double") / col("n_clickers").cast("double"))
          .as("abandonment_rate"))
      .orderBy("day")

  /** Conversion window for [[signupConversion]]. */
  val ConvertWindowSec = 7L * 86400L

  /** `evt_signup_conversion`: signup-cohort activation — per signup
    * day, how many users signed up and what share made their first
    * post-signup purchase within 7 days (the growth-team activation
    * metric; [[funnel]] measures within-hour sequences, this measures
    * the cross-day commitment).
    *
    * Scale shape: signups collapse to one row per user first (min
    * aggregate), then ONE user_id-keyed join against the purchase
    * stream with the time bound in the join condition (co-partitioned
    * fact⋈fact on the same key the events already shuffle on; per-user
    * match work bounded by that user's purchases), a min-aggregate for
    * the first qualifying purchase, and a day-cardinality rollup.
    * Left join keeps never-converting signups; integer second/day
    * math end to end. */
  def signupConversion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("es"))
    val su = e.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("es")).as("signup_es"))
    val pu = e.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("es").as("p_es"))
    su.join(pu, col("user_id") === col("p_uid") &&
        col("p_es") >= col("signup_es"), "left")
      .groupBy("user_id", "signup_es")
      .agg(min(col("p_es")).as("first_purchase_es"))
      .groupBy(expr("signup_es DIV 86400").as("eday"))
      .agg(count(lit(1)).as("n_signups"),
        sum(when(col("first_purchase_es").isNotNull &&
          col("first_purchase_es") - col("signup_es") <= ConvertWindowSec, 1L)
          .otherwise(0L)).as("n_converted_7d"))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("eday").cast("int")).as("day"),
        col("n_signups"), col("n_converted_7d"),
        (col("n_converted_7d").cast("double") / col("n_signups").cast("double"))
          .as("conversion_rate"))
      .orderBy("day")
  }

  /** `evt_gini`: Gini coefficient of per-user event counts — the
    * one-number activity-concentration audit ("do 1% of accounts
    * generate 90% of traffic?") read before sampling or rate-limit
    * design; 0 = uniform, →1 = one user dominates.
    *
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over counts sorted ascending
    * needs a GLOBAL rank — the scale hazard. [[SkewUtils.prefixSum]]
    * with weight 1 IS the exact global (x, user_id) rank at any user
    * count, and stays balanced under the defining skew of this
    * statistic (most users tied at x = 1: the range partitioner splits
    * the tie on user_id). Σx and Σ i·x accumulate as
    * DECIMAL(38,0) (order-independent, bit-equal to DuckDB HUGEINT);
    * only the three FINISHED statistics are cast to double (< 2⁵³ at
    * verified scales → exact) and the closed form runs as the identical
    * IEEE expression in both engines — the [[Gold.priceSlopeOf]]
    * discipline. */
  def activityGini(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("x"))
    val nd  = col("n").cast("double")
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    SkewUtils.prefixSum(x, Seq(col("x").asc, col("user_id").asc),
        lit(1L), "i")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).as("s1"),
        sum(col("i").cast(dec) * col("x").cast(dec)).as("s2"))
      .select(col("n").cast("long").as("n_users"),
        col("s1").cast("long").as("total_events"),
        ((lit(2.0) * s2d - (nd + lit(1.0)) * s1d) / (nd * s1d)).as("gini"))
  }

  /** `evt_streaks`: per-user longest consecutive-day activity streak
    * (gaps-and-islands — the habit/engagement metric behind "7-day
    * streak" product features and retention models). Island identity is
    * the classic `eday - row_number()` constant: consecutive days share
    * it, any gap shifts it.
    *
    * Scale shape: ONE distinct-shuffle down to (user_id, eday) —
    * everything after operates on at most days-per-user rows per key.
    * The row_number window and both aggregates are keyed on user_id, so
    * AQE sees a single exchange; per-partition state is bounded by one
    * user's active-day count (≤ a few thousand even for a years-long
    * history), never by corpus size. Day arithmetic is integer epoch
    * math end to end. */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("eday"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("eday")
    ud.withColumn("isl", col("eday") - row_number().over(w))
      .groupBy("user_id", "isl").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum(col("len")).as("n_active_days"),
        max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  /** Number of experiment arms for [[abAssign]]. */
  val AbVariants = 2L

  /** `evt_ab_assign`: deterministic A/B experiment assignment + the
    * per-variant funnel readout — every user lands in a variant by a
    * pure hash of their id (no assignment table, no randomness: re-runs,
    * backfills and late events always agree), then each variant reports
    * exposed users, clickers, purchasers and the derived conversion
    * rates. This is the experimentation primitive the reference's
    * Athena layer would serve next to its funnel queries.
    *
    * Scale shape: variant is a map-side expression on user_id; ONE
    * user_id-keyed partial-aggregating groupBy collapses the event
    * stream to per-user flags (the [[cartAbandonment]] shape), then a
    * [[AbVariants]]-cardinality rollup is metadata. The hash is the
    * engine-portable multiplicative hash (Curation.portableHash), so
    * the DuckDB oracle reproduces the assignment bit-for-bit; rates
    * divide two exact counts in one IEEE op each. */
  def abAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicked"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
      .groupBy((Curation.portableHash(col("user_id")) % AbVariants).as("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("clicked")).as("n_clickers"),
        sum(col("purchased")).as("n_purchasers"))
      .select(col("variant"), col("n_users"), col("n_clickers"), col("n_purchasers"),
        (col("n_clickers").cast("double") / col("n_users").cast("double"))
          .as("click_rate"),
        (col("n_purchasers").cast("double") / col("n_users").cast("double"))
          .as("purchase_rate"))
      .orderBy("variant")

  /** `evt_power_curve`: event concentration by user decile — users
    * ranked by activity (heaviest first), split into ten equal-count
    * deciles, each with its user count, event mass, share, and the
    * cumulative share ("the top 10% of users generate X% of events").
    * The capacity-planning/abuse view that [[activityGini]] compresses
    * to one number; this is the curve itself.
    *
    * Scale shape: the global rank is [[SkewUtils.prefixSum]] with
    * weight 1 (range-partitioned, exact, balanced even with most users
    * tied at one event); decile totals are ONE partial-agg groupBy to
    * ten rows, and the cumulative share is a ≤10×10 broadcast
    * self-join — metadata. Shares divide exact longs, one IEEE op
    * each. */
  def powerCurve(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("x"))
    val tot = x.agg(count(lit(1)).as("n"), sum(col("x")).as("te"))
    val dec = SkewUtils.prefixSum(x,
        Seq(col("x").desc, col("user_id").asc), lit(1L), "i")
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("((i - 1) * 10) DIV n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("x")).as("decile_events"),
        max(col("te")).as("te"))
    dec
      .join(broadcast(dec.select(col("decile").as("d2"),
        col("decile_events").as("e2"))), col("d2") <= col("decile"))
      .groupBy("decile", "n_users", "decile_events", "te")
      .agg(sum(col("e2")).as("cum_events"))
      .select(col("decile"), col("n_users"), col("decile_events"),
        (col("decile_events").cast("double") / col("te").cast("double"))
          .as("event_share"),
        (col("cum_events").cast("double") / col("te").cast("double"))
          .as("cum_event_share"))
      .orderBy("decile")
  }

  /** `evt_type_cooccurrence`: event-type co-occurrence lift at the
    * user-day grain — for every pair of event types, how many user-days
    * contain both, and the lift over independence
    * (P(a,b)·N / (P(a)·P(b))). The feature-interaction audit behind
    * "users who search also purchase" claims, complementing
    * [[transitions]] (which orders consecutive pairs; this counts
    * unordered co-presence).
    *
    * Scale shape: ONE distinct-shuffle to (user, day, type); the pair
    * join is keyed on (user, day) with per-key multiplicity ≤ the type
    * CATALOG (never corpus-sized), collapsing map-side to ≤ catalog²
    * rows; marginals are a catalog-sized aggregate broadcast back.
    * Lift multiplies/divides exact longs cast to double — the same
    * IEEE sequence in both engines. */
  def typeCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
      .distinct()
    val tot = ud.select("user_id", "d").distinct().agg(count(lit(1)).as("n_ud"))
    val per = ud.groupBy("event_type").agg(count(lit(1)).as("n_t"))
    ud.select(col("user_id"), col("d"), col("event_type").as("type_a"))
      .join(ud.select(col("user_id"), col("d"), col("event_type").as("type_b")),
        Seq("user_id", "d"))
      .where(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(per.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(per.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(tot))
      .select(col("type_a"), col("type_b"), col("n_both"),
        col("n_a"), col("n_b"),
        (col("n_both").cast("double") * col("n_ud").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy("type_a", "type_b")
  }

  /** Seasonal-naive lag: one week of hours. */
  val SeasonalLagHours = 168L

  /** `evt_seasonal_baseline`: seasonal-naive forecast backtest — per
    * event type, predict each hour's event count with the count from
    * the same hour LAST WEEK, and score MAE and signed bias over the
    * dense hour grid. The capacity-planning sanity baseline every
    * fancier forecast must beat; persistent bias also doubles as a
    * trend/instrumentation-drift alarm next to [[volumeAnomaly]]-style
    * monitors.
    *
    * Scale shape: the corpus collapses to (type, hour) counts in ONE
    * partial-agg groupBy — everything after runs on the CALENDAR grid
    * (types × hours: metadata at any corpus size), densified from a
    * broadcast 1-row span so zero-event hours score as zeros instead
    * of silently dropping. Errors are exact integer differences;
    * MAE/bias each divide two exact longs once. */
  def seasonalBaseline(spark: SparkSession, dir: String): DataFrame = {
    val hc = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)" +
          " DIV 3600").as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("n"))
    val span = hc.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = hc.select("event_type").distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"),
        col("h0"))
    val dense = grid.join(hc, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), col("h0"),
        coalesce(col("n"), lit(0L)).as("actual"))
    val pred = dense.select(col("event_type"),
      (col("h") + SeasonalLagHours).as("h"), col("actual").as("predicted"))
    dense.where(col("h") >= col("h0") + SeasonalLagHours)
      .join(pred, Seq("event_type", "h"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum(col("actual")).as("total_actual"),
        sum(abs(col("actual") - col("predicted"))).as("abs_err"),
        sum(col("actual") - col("predicted")).as("sum_err"))
      .select(col("event_type"), col("n_hours"), col("total_actual"),
        (col("abs_err").cast("double") / col("n_hours").cast("double"))
          .as("mae"),
        (col("sum_err").cast("double") / col("n_hours").cast("double"))
          .as("bias"))
      .orderBy("event_type")
  }

  private def mkRound(prev: String, i: Int): String =
    s"""r$i AS (SELECT c.to_type AS t,
       |          SUM(CAST(FLOOR((p.p * c.prob) * $MarkovScale)
       |            AS DECIMAL(38,0))) AS r
       |        FROM c JOIN $prev p ON c.from_type = p.t GROUP BY 1),
       |tot$i AS (SELECT SUM(r) AS tot FROM r$i),
       |mk$i AS (SELECT ty.t,
       |           CAST(COALESCE(r.r, 0) AS DOUBLE)/CAST(tot AS DOUBLE) AS p
       |         FROM ty LEFT JOIN r$i r ON ty.t = r.t, tot$i)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("evt_seasonal_baseline", seasonalBaseline,
      s"""WITH hc AS (SELECT event_type,
         |              CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS h,
         |              COUNT(*) AS n
         |            FROM events GROUP BY 1, 2),
         |sp AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hc),
         |g AS (SELECT ty.event_type, gs.h, gs.h0
         |      FROM (SELECT DISTINCT event_type FROM hc) ty
         |      CROSS JOIN (SELECT unnest(generate_series(h0, h1)) AS h, h0
         |                  FROM sp) gs),
         |d AS (SELECT g.event_type, g.h, g.h0, COALESCE(hc.n, 0) AS actual
         |      FROM g LEFT JOIN hc
         |        ON hc.event_type = g.event_type AND hc.h = g.h),
         |p AS (SELECT event_type, h + $SeasonalLagHours AS h,
         |             actual AS predicted FROM d),
         |s AS (SELECT d.event_type, d.actual, p.predicted
         |      FROM d JOIN p ON p.event_type = d.event_type AND p.h = d.h
         |      WHERE d.h >= d.h0 + $SeasonalLagHours)
         |SELECT event_type, COUNT(*) AS n_hours,
         |       CAST(SUM(actual) AS BIGINT) AS total_actual,
         |       CAST(SUM(ABS(actual - predicted)) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS mae,
         |       CAST(SUM(actual - predicted) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS bias
         |FROM s GROUP BY 1 ORDER BY event_type""".stripMargin),
    QueryDef("evt_power_curve", powerCurve,
      """WITH x AS (SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1),
        |t AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS te FROM x),
        |r AS (SELECT x.x,
        |        ((ROW_NUMBER() OVER (ORDER BY x.x DESC, x.user_id)) - 1) * 10 // t.n
        |          AS decile
        |      FROM x CROSS JOIN t),
        |d AS (SELECT decile, COUNT(*) AS n_users,
        |             CAST(SUM(x) AS BIGINT) AS decile_events
        |      FROM r GROUP BY 1)
        |SELECT d.decile, d.n_users, d.decile_events,
        |       CAST(d.decile_events AS DOUBLE) / CAST(t.te AS DOUBLE)
        |         AS event_share,
        |       CAST(CAST(SUM(d2.decile_events) AS BIGINT) AS DOUBLE)
        |         / CAST(t.te AS DOUBLE) AS cum_event_share
        |FROM d JOIN d d2 ON d2.decile <= d.decile CROSS JOIN t
        |GROUP BY d.decile, d.n_users, d.decile_events, t.te
        |ORDER BY d.decile""".stripMargin),
    QueryDef("evt_type_cooccurrence", typeCooccurrence,
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
        |            FROM events),
        |t AS (SELECT COUNT(*) AS n_ud
        |      FROM (SELECT DISTINCT user_id, d FROM ud)),
        |per AS (SELECT event_type, COUNT(*) AS n_t FROM ud GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |             COUNT(*) AS n_both
        |      FROM ud a JOIN ud b
        |        ON a.user_id = b.user_id AND a.d = b.d
        |       AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_both, pa.n_t AS n_a, pb.n_t AS n_b,
        |       CAST(p.n_both AS DOUBLE) * CAST(t.n_ud AS DOUBLE)
        |         / (CAST(pa.n_t AS DOUBLE) * CAST(pb.n_t AS DOUBLE)) AS lift
        |FROM p JOIN per pa ON pa.event_type = p.type_a
        |       JOIN per pb ON pb.event_type = p.type_b CROSS JOIN t
        |ORDER BY type_a, type_b""".stripMargin),
    QueryDef("evt_ab_assign", abAssign,
      s"""WITH u AS (SELECT user_id,
         |                  MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
         |                  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
         |           FROM events GROUP BY 1)
         |SELECT ${Curation.portableHashSql("user_id")} % $AbVariants AS variant,
         |       COUNT(*) AS n_users,
         |       CAST(SUM(clicked) AS BIGINT) AS n_clickers,
         |       CAST(SUM(purchased) AS BIGINT) AS n_purchasers,
         |       CAST(SUM(clicked) AS BIGINT)*1.0/COUNT(*) AS click_rate,
         |       CAST(SUM(purchased) AS BIGINT)*1.0/COUNT(*) AS purchase_rate
         |FROM u GROUP BY 1 ORDER BY variant""".stripMargin),
    QueryDef("evt_cart_abandonment", cartAbandonment,
      """WITH ud AS (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
        |                   user_id,
        |                   MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
        |                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
        |            FROM events GROUP BY 1, 2)
        |SELECT DATE '1970-01-01' + CAST(eday AS INT) AS day,
        |       COUNT(*) AS n_clickers,
        |       CAST(SUM(CASE WHEN purchased = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_abandoned,
        |       CAST(SUM(CASE WHEN purchased = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / CAST(COUNT(*) AS DOUBLE) AS abandonment_rate
        |FROM ud WHERE clicked = 1 GROUP BY eday ORDER BY day""".stripMargin),
    QueryDef("evt_signup_conversion", signupConversion,
      s"""WITH e AS (SELECT user_id, event_type,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
         |su AS (SELECT user_id, MIN(es) AS signup_es FROM e
         |       WHERE event_type = 'signup' GROUP BY 1),
         |fp AS (SELECT su.user_id, signup_es, MIN(p.es) AS first_purchase_es
         |       FROM su LEFT JOIN e p ON p.user_id = su.user_id
         |         AND p.event_type = 'purchase' AND p.es >= su.signup_es
         |       GROUP BY 1, 2)
         |SELECT DATE '1970-01-01' + CAST(signup_es // 86400 AS INT) AS day,
         |       COUNT(*) AS n_signups,
         |       CAST(SUM(CASE WHEN first_purchase_es IS NOT NULL
         |                      AND first_purchase_es - signup_es <= $ConvertWindowSec
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_7d,
         |       CAST(SUM(CASE WHEN first_purchase_es IS NOT NULL
         |                      AND first_purchase_es - signup_es <= $ConvertWindowSec
         |                     THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS conversion_rate
         |FROM fp GROUP BY signup_es // 86400 ORDER BY day""".stripMargin),
    QueryDef("evt_gini", activityGini,
      """WITH x AS (SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i FROM x),
        |a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |             SUM(CAST(x AS HUGEINT)) AS s1,
        |             SUM(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS s2
        |      FROM r)
        |SELECT CAST(n AS BIGINT) AS n_users, CAST(s1 AS BIGINT) AS total_events,
        |       (2.0*CAST(s2 AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0)*CAST(s1 AS DOUBLE))
        |         / (CAST(n AS DOUBLE)*CAST(s1 AS DOUBLE)) AS gini
        |FROM a""".stripMargin),
    QueryDef("evt_streaks", streaks,
      """WITH ud AS (SELECT DISTINCT user_id,
        |              date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday
        |            FROM events),
        |i AS (SELECT user_id,
        |        eday - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY eday) AS isl
        |      FROM ud),
        |s AS (SELECT user_id, isl, COUNT(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |       CAST(MAX(len) AS BIGINT) AS longest_streak,
        |       COUNT(*) AS n_streaks
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("evt_user_features", userFeatures,
      """WITH e AS (SELECT user_id, event_type, value,
        |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events)
        |SELECT user_id,
        |       COUNT(*) AS n_events,
        |       COUNT(DISTINCT event_type) AS n_types,
        |       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_views,
        |       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_clicks,
        |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_purchases,
        |       CAST(SUM(CAST(FLOOR(value*10000) AS DECIMAL(28,0))) AS DOUBLE)/10000
        |         AS total_value,
        |       MIN(es) AS first_es,
        |       MAX(es) AS last_es,
        |       COUNT(DISTINCT es // 86400) AS active_days
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("evt_bot_rate", botRate,
      s"""WITH e AS (SELECT user_id,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600 AS hr
         |           FROM events),
         |c AS (SELECT user_id, hr, COUNT(*) AS n FROM e GROUP BY 1, 2)
         |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
         |       CAST(MAX(n) AS BIGINT) AS max_per_hour,
         |       MAX(n) >= $BotMaxPerHour AS burst_flag
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("evt_active_users", activeUsers,
      s"""WITH ud AS (SELECT DISTINCT
         |              date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday,
         |              user_id FROM events),
         |dau AS (SELECT eday, COUNT(*) AS dau FROM ud GROUP BY 1),
         |cover AS (SELECT user_id,
         |                 unnest(generate_series(eday, eday + ${WauWindowDays - 1}))
         |                   AS eday
         |          FROM ud),
         |wau AS (SELECT eday, COUNT(DISTINCT user_id) AS wau
         |        FROM cover GROUP BY 1)
         |SELECT DATE '1970-01-01' + CAST(d.eday AS INT) AS day, d.dau, w.wau,
         |       ${Gold.fixedRoundSql(
             "CAST(d.dau AS DOUBLE)/CAST(w.wau AS DOUBLE)", 4)} AS stickiness
         |FROM dau d JOIN wau w USING (eday)
         |ORDER BY day""".stripMargin),
    QueryDef("evt_funnel", funnel,
      """WITH e AS (SELECT user_id, event_type,
        |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
        |v AS (SELECT user_id, MIN(es) AS view_es FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT user_id, MIN(es) AS click_es FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND es > view_es GROUP BY 1),
        |p AS (SELECT user_id, MIN(es) AS purchase_es FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND es > click_es GROUP BY 1)
        |SELECT user_id, view_es, click_es, purchase_es
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin),
    QueryDef("evt_retention", retention,
      s"""WITH e AS (SELECT user_id,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) // $WeekSec AS wk
         |           FROM events),
         |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1),
         |a AS (SELECT DISTINCT user_id, cohort_wk, wk - cohort_wk AS week_offset
         |      FROM e JOIN c USING (user_id))
         |SELECT cohort_wk, week_offset, COUNT(*) AS n_users
         |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("evt_quantiles", valueQuantiles,
      s"""SELECT event_type, COUNT(*) AS n_events,
         |       ${Gold.fixedRoundSql("quantile_cont(value, 0.5)", 4)} AS p50,
         |       ${Gold.fixedRoundSql("quantile_cont(value, 0.9)", 4)} AS p90,
         |       ${Gold.fixedRoundSql("quantile_cont(value, 0.99)", 4)} AS p99
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("evt_activity_curve", activityCurve,
      """WITH c AS (SELECT user_id, COUNT(*) AS k FROM events GROUP BY 1),
        |h AS (SELECT k, COUNT(*) AS n_users_exact FROM c GROUP BY 1)
        |SELECT a.k, a.n_users_exact,
        |       CAST(SUM(b.n_users_exact) AS BIGINT) AS n_users_at_least
        |FROM h a LEFT JOIN h b ON b.k >= a.k
        |GROUP BY 1, 2 ORDER BY a.k""".stripMargin),
    QueryDef("evt_gap_histogram", gapHistogram,
      s"""WITH e AS (SELECT user_id, event_type, event_id,
         |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
         |           FROM events),
         |l AS (SELECT event_type, es,
         |             LAG(es) OVER (PARTITION BY user_id, event_type
         |                           ORDER BY es, event_id) AS prev
         |      FROM e),
         |b AS (SELECT event_type, (es - prev) // $GapHistBucketSec AS bucket
         |      FROM l WHERE prev IS NOT NULL)
         |SELECT event_type, bucket, bucket*$GapHistBucketSec AS gap_lo_sec,
         |       COUNT(*) AS n_gaps
         |FROM b GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin),
    QueryDef("evt_behavior_diversity", behaviorDiversity,
      """WITH tc AS (SELECT user_id, event_type, COUNT(*) AS c
        |            FROM events GROUP BY 1, 2),
        |g AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
        |             COUNT(*) AS n_types,
        |             CAST(SUM(c*(c-1)) AS BIGINT) AS rep
        |      FROM tc GROUP BY 1)
        |SELECT user_id, n_events, n_types,
        |       CASE WHEN n_events >= 2
        |            THEN CAST(rep AS DOUBLE)
        |                   / CAST(n_events*(n_events-1) AS DOUBLE)
        |            ELSE 0.0 END AS simpson
        |FROM g ORDER BY user_id""".stripMargin),
    QueryDef("evt_conversion_lag", conversionLag,
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |             CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
         |           FROM events WHERE event_type IN ('view', 'purchase')),
         |l AS (SELECT user_id, event_type, es,
         |             MAX(CASE WHEN event_type = 'view' THEN es END)
         |               OVER (PARTITION BY user_id ORDER BY es, event_id
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |               AS lv
         |      FROM e),
         |b AS (SELECT user_id, (es - lv) // $ConvLagBucketSec AS bucket
         |      FROM l WHERE event_type = 'purchase' AND lv IS NOT NULL)
         |SELECT bucket, bucket*$ConvLagBucketSec AS lag_lo_sec,
         |       COUNT(*) AS n_conversions,
         |       COUNT(DISTINCT user_id) AS n_users
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("evt_reactivation", reactivation,
      s"""WITH ud AS (SELECT DISTINCT user_id,
         |              date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday
         |            FROM events),
         |l AS (SELECT user_id, eday,
         |             LAG(eday) OVER (PARTITION BY user_id ORDER BY eday) AS prev
         |      FROM ud),
         |g AS (SELECT eday, COUNT(*) AS n_active_users,
         |             CAST(SUM(CASE WHEN prev IS NOT NULL
         |                            AND eday - prev >= $DormantDays
         |                           THEN 1 ELSE 0 END) AS BIGINT) AS n_reactivated
         |      FROM l GROUP BY 1)
         |SELECT DATE '1970-01-01' + CAST(eday AS INT) AS day,
         |       n_active_users, n_reactivated,
         |       CAST(n_reactivated AS DOUBLE)/CAST(n_active_users AS DOUBLE)
         |         AS reactivation_rate
         |FROM g ORDER BY day""".stripMargin),
    QueryDef("evt_trending", trendingItems,
      s"""WITH e AS (SELECT CAST(ts AS DATE) AS day,
         |             CAST(json_extract(props, '$$.k') AS BIGINT) AS item
         |           FROM events WHERE event_type IN ('view', 'click')),
         |c AS (SELECT day, item, COUNT(*) AS n FROM e GROUP BY 1, 2),
         |r AS (SELECT day, item, n,
         |             ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, item)
         |               AS rn
         |      FROM c)
         |SELECT day, CAST(rn AS INT) AS rn, item, CAST(n AS BIGINT) AS n_events
         |FROM r WHERE rn <= $TrendK ORDER BY day, rn""".stripMargin),
    QueryDef("evt_json_extract", jsonExtract,
      """SELECT event_id, event_type,
        |       CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin),
    QueryDef("evt_heavy_users", heavyUsers,
      s"""WITH c AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1),
         |t AS (SELECT COUNT(*) AS n FROM events)
         |SELECT user_id, n_events FROM c, t
         |WHERE n_events * ${MgK + 1} > n
         |ORDER BY user_id""".stripMargin),
    QueryDef("evt_user_paths", userPaths,
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events)
         |SELECT user_id, COUNT(*) AS n_events,
         |       array_to_string(
         |         (list(event_type ORDER BY es, event_id))[1:$MaxPathLen],
         |         '>') AS path
         |FROM e GROUP BY 1 ORDER BY user_id""".stripMargin),
    QueryDef("evt_winsorize", winsorize,
      s"""WITH b AS (
         |  SELECT event_type,
         |         ${Gold.fixedRoundSql("quantile_cont(value, 0.01)", 4)} AS lo,
         |         ${Gold.fixedRoundSql("quantile_cont(value, 0.99)", 4)} AS hi
         |  FROM events GROUP BY 1)
         |SELECT event_id, e.event_type, value,
         |       LEAST(GREATEST(value, lo), hi) AS clamped,
         |       (value < lo OR value > hi) AS was_capped
         |FROM events e JOIN b USING (event_type)
         |ORDER BY event_id""".stripMargin),
    QueryDef("evt_robust_anomaly", robustAnomalies,
      s"""WITH m AS (
         |  SELECT event_type,
         |         ${Gold.fixedRoundSql("quantile_cont(value, 0.5)", 4)} AS med
         |  FROM events GROUP BY 1),
         |d AS (
         |  SELECT e.event_type, med,
         |         ${Gold.fixedRoundSql("quantile_cont(ABS(value - med), 0.5)", 4)} AS mad
         |  FROM events e JOIN m USING (event_type) GROUP BY 1, 2)
         |SELECT event_id, e.event_type, value, med, mad
         |FROM events e JOIN d USING (event_type)
         |WHERE ABS(value - med) > CAST($RobustK AS DOUBLE) * mad
         |ORDER BY event_id""".stripMargin),
    QueryDef("evt_attribution", attribution,
      s"""WITH e AS (SELECT user_id, event_id, event_type, value,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
         |t AS (SELECT *,
         |        LAST_VALUE(CASE WHEN event_type IN ('view','click')
         |                        THEN es END IGNORE NULLS) OVER win AS t_es,
         |        LAST_VALUE(CASE WHEN event_type IN ('view','click')
         |                        THEN event_type END IGNORE NULLS) OVER win AS t_type
         |      FROM e
         |      WINDOW win AS (PARTITION BY user_id ORDER BY es, event_id
         |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |p AS (SELECT CASE WHEN t_es IS NOT NULL
         |                       AND es - t_es <= $AttributionWindowSec
         |                  THEN t_type ELSE 'direct' END AS channel, value
         |      FROM t WHERE event_type = 'purchase')
         |SELECT channel, COUNT(*) AS n_purchases,
         |       ${Gold.moneySumSql("value")} AS attributed_revenue
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("evt_attribution_linear", attributionLinear,
      s"""WITH e AS (SELECT user_id, event_id, event_type, value,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
         |p AS (SELECT user_id, event_id AS p_id, es AS p_es, value
         |      FROM e WHERE event_type = 'purchase'),
         |t AS (SELECT user_id, es AS t_es, event_type AS channel
         |      FROM e WHERE event_type IN ('view','click')),
         |cand AS (
         |  SELECT p.p_id, p.value, t.channel
         |  FROM p JOIN t ON p.user_id = t.user_id
         |   AND t.t_es >= p.p_es - $AttributionWindowSec AND t.t_es < p.p_es),
         |per AS (SELECT p_id, value, COUNT(*) AS n FROM cand GROUP BY 1, 2),
         |cc AS (SELECT p_id, channel, COUNT(*) AS cnt FROM cand GROUP BY 1, 2),
         |cj AS (SELECT cc.p_id, cc.channel,
         |              (per.value * cc.cnt) / per.n AS credit
         |       FROM cc JOIN per USING (p_id)),
         |credits AS (
         |  SELECT channel, p_id, credit FROM cj
         |  UNION ALL
         |  SELECT 'direct', p_id, value FROM p
         |  WHERE p_id NOT IN (SELECT p_id FROM cand))
         |SELECT channel, COUNT(DISTINCT p_id) AS n_purchases,
         |       ${Gold.moneySumSql("credit")} AS credited_revenue
         |FROM credits GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("evt_markov_stationary", markovStationary,
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
         |l AS (SELECT user_id, event_type AS to_type,
         |             LAG(event_type) OVER (PARTITION BY user_id
         |               ORDER BY es, event_id) AS from_type
         |      FROM e),
         |cnt AS (SELECT from_type, to_type, COUNT(*) AS n
         |        FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2),
         |rn AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n
         |       FROM cnt GROUP BY 1),
         |c AS (SELECT cnt.from_type, cnt.to_type,
         |             CAST(n AS DOUBLE)/row_n AS prob
         |      FROM cnt JOIN rn USING (from_type)),
         |ty AS (SELECT from_type AS t FROM c UNION SELECT to_type FROM c),
         |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM ty),
         |mk0 AS (SELECT t, CAST(1 AS DOUBLE)/nd AS p FROM ty, nd),
         |${(1 to MarkovIters).map(i => mkRound(s"mk${i - 1}", i))
             .mkString(",\n")}
         |SELECT t AS event_type, p AS stationary_prob
         |FROM mk$MarkovIters ORDER BY event_type""".stripMargin),
    QueryDef("evt_trigrams", trigrams,
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
         |l AS (SELECT user_id, event_type AS t3,
         |             LAG(event_type, 2) OVER (PARTITION BY user_id
         |               ORDER BY es, event_id) AS t1,
         |             LAG(event_type, 1) OVER (PARTITION BY user_id
         |               ORDER BY es, event_id) AS t2
         |      FROM e),
         |c AS (SELECT t1, t2, t3, COUNT(*) AS n
         |      FROM l WHERE t1 IS NOT NULL GROUP BY 1, 2, 3),
         |p AS (SELECT t1, t2, CAST(SUM(n) AS BIGINT) AS prefix_n
         |      FROM c GROUP BY 1, 2)
         |SELECT c.t1, c.t2, c.t3, n, CAST(n AS DOUBLE)/prefix_n AS prob
         |FROM c JOIN p USING (t1, t2)
         |ORDER BY t1, t2, t3""".stripMargin),
    QueryDef("evt_transitions", transitions,
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
         |l AS (SELECT user_id, event_type AS to_type,
         |             LAG(event_type) OVER (PARTITION BY user_id
         |               ORDER BY es, event_id) AS from_type
         |      FROM e),
         |c AS (SELECT from_type, to_type, COUNT(*) AS n
         |      FROM l WHERE from_type IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n
         |      FROM c GROUP BY 1)
         |SELECT c.from_type, c.to_type, n, CAST(n AS DOUBLE)/row_n AS prob
         |FROM c JOIN t USING (from_type)
         |ORDER BY from_type, to_type""".stripMargin),
    QueryDef("evt_hourly_profile", hourlyProfile,
      s"""WITH c AS (
         |  SELECT CAST(hour(ts) AS INT) AS hour_of_day, event_type,
         |         COUNT(*) AS n_events,
         |         ${Gold.moneySumSql("value")} AS value_sum
         |  FROM events GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS type_total
         |      FROM c GROUP BY 1)
         |SELECT hour_of_day, event_type, n_events, value_sum,
         |       CAST(n_events AS DOUBLE)/CAST(type_total AS DOUBLE) AS share_of_type
         |FROM c JOIN t USING (event_type)
         |ORDER BY hour_of_day, event_type""".stripMargin),
    QueryDef("evt_value_histogram", valueHistogram,
      s"""SELECT event_type,
         |       (CAST(FLOOR(value) AS BIGINT) // $HistBucketWidth)
         |         * $HistBucketWidth AS bucket_lo,
         |       COUNT(*) AS n_events
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("evt_anomaly", valueAnomalies,
      s"""WITH s AS (
         |  SELECT event_type, COUNT(*) AS n,
         |         ${Gold.moneySumSql("value")} AS sx,
         |         ${Gold.moneySumSql("value*value")} AS sxx
         |  FROM events GROUP BY 1),
         |m AS (
         |  SELECT event_type, sx/n AS mean,
         |         sqrt(sxx/n - (sx/n)*(sx/n)) AS std
         |  FROM s)
         |SELECT event_id, e.event_type, value,
         |       ${Gold.fixedRoundSql("(value - mean)/std", 4)} AS z
         |FROM events e JOIN m USING (event_type)
         |WHERE abs(value - mean) > $AnomalyZ*std
         |ORDER BY event_id""".stripMargin),
    QueryDef("str_windowed_agg", windowedAgg,
      s"""SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
         |       event_type, COUNT(*) AS n_events,
         |       ${Gold.moneySumSql("value")} AS sum_value
         |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    QueryDef("str_sliding_agg", slidingAgg,
      s"""WITH e AS (SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS es,
         |                  event_type, value FROM events),
         |x AS (SELECT es, event_type, value,
         |             unnest(generate_series(0,
         |               ${SlideWindowSec / SlideHopSec - 1})) AS i FROM e),
         |w AS (SELECT make_timestamp(((es // $SlideHopSec - i) * $SlideHopSec)
         |                            * 1000000) AS window_start,
         |             event_type, value FROM x)
         |SELECT window_start, event_type, COUNT(*) AS n_events,
         |       ${Gold.moneySumSql("value")} AS sum_value
         |FROM w GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    QueryDef("evt_daily_new_users", dailyNewUsers,
      """WITH ud AS (SELECT DISTINCT user_id,
        |              date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS eday
        |            FROM events),
        |f AS (SELECT user_id, MIN(eday) AS first_day FROM ud GROUP BY 1),
        |g AS (SELECT eday, COUNT(*) AS n_active,
        |             CAST(SUM(CASE WHEN eday = first_day THEN 1 ELSE 0 END)
        |               AS BIGINT) AS n_new
        |      FROM ud JOIN f USING (user_id) GROUP BY 1)
        |SELECT DATE '1970-01-01' + CAST(eday AS INT) AS day,
        |       n_active, n_new, n_active - n_new AS n_returning
        |FROM g ORDER BY day""".stripMargin),
    QueryDef("evt_session_histogram", sessionHistogram,
      s"""WITH e AS (SELECT user_id, event_id,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
         |l AS (SELECT *, LAG(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS prev
         |      FROM e),
         |f AS (SELECT *, CASE WHEN prev IS NULL OR es - prev > $SessionGapSec
         |                     THEN 1 ELSE 0 END AS new_s FROM l),
         |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
         |                 ROWS UNBOUNDED PRECEDING) AS session_idx FROM f),
         |sess AS (SELECT user_id, session_idx, COUNT(*) AS n_events,
         |                MAX(es) - MIN(es) AS duration_sec
         |         FROM s GROUP BY 1, 2),
         |be AS (SELECT 'n_events' AS metric, n_events AS bucket,
         |              n_events AS lo, COUNT(*) AS n_sessions
         |       FROM sess GROUP BY 2),
         |bd AS (SELECT 'duration' AS metric,
         |              duration_sec // $SessDurBucketSec AS bucket,
         |              (duration_sec // $SessDurBucketSec) * $SessDurBucketSec AS lo,
         |              COUNT(*) AS n_sessions
         |       FROM sess GROUP BY 2, 3)
         |SELECT * FROM (SELECT * FROM be UNION ALL SELECT * FROM bd)
         |ORDER BY metric, bucket""".stripMargin),
    QueryDef("str_sessionize", sessionize,
      s"""WITH e AS (SELECT user_id, event_id,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events),
         |l AS (SELECT *, LAG(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS prev
         |      FROM e),
         |f AS (SELECT *, CASE WHEN prev IS NULL OR es - prev > $SessionGapSec
         |                     THEN 1 ELSE 0 END AS new_s FROM l),
         |s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
         |                 ROWS UNBOUNDED PRECEDING) AS session_idx FROM f)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |       COUNT(*) AS n_events, MIN(es) AS session_start_es,
         |       MAX(es) - MIN(es) AS duration_sec
         |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin))
}
