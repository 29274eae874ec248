package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream — the
  * incremental twins of `graft.operators.Events`. Source-agnostic:
  * callers pass any streaming DataFrame (`readStream` from files/Kafka,
  * or MemoryStream in tests) with the events schema.
  *
  * Scale design: windowed aggregation is watermark-bounded so state
  * is evicted; sessionization keeps one small state object per user
  * key (not the events themselves), so state size is O(active users).
  */
object EventStreams {

  /** 5-minute tumbling windows per event type with a 10-minute
    * watermark (late events beyond it are dropped, state is evicted).
    * The money sum is `Gold.moneySum` — the same fixed-point decimal
    * aggregate as the batch twin, so sum_value is order-independent
    * across micro-batches/partitions and can never drift from batch. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Gold.moneySum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Hopping/sliding twin of [[graft.operators.Events.slidingAgg]]:
    * the same 1-hour/15-minute `window(ts, W, hop)` spec under the
    * watermark. Each event updates window/hop = 4 window states; state
    * per (window, type) is one count + one fixed-point decimal sum, and
    * windows older than the watermark are emitted and evicted — the
    * standard bounded-state trend view. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"),
        s"${graft.operators.Events.SlideWindowSec} seconds",
        s"${graft.operators.Events.SlideHopSec} seconds").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        graft.operators.Gold.moneySum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  final case class Evt(user_id: Long, event_id: Long, es: Long)
  final case class SessionState(
      sessionIdx: Long, startEs: Long, lastEs: Long, nEvents: Long)
  final case class SessionOut(
      user_id: Long, session_idx: Long, n_events: Long,
      session_start_es: Long, duration_sec: Long)

  /** Shared with the batch twin so the two can never drift. */
  val GapSec: Long = graft.operators.Events.SessionGapSec

  /** Stateful sessionization: one `SessionState` per user; a gap above
    * `GapSec` closes the session (emitted) and opens the next. Events
    * within a micro-batch are processed in event-time order. */
  def sessionize(events: Dataset[Evt]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        sessionizeGroup)
  }

  private[streaming] def sessionizeGroup(
      userId: Long, events: Iterator[Evt],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    val sorted = events.toSeq.sortBy(e => (e.es, e.event_id))
    var st = state.getOption.orNull
    val out = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      st match {
        case null =>
          st = SessionState(1L, e.es, e.es, 1L)
        case s if e.es - s.lastEs > GapSec =>
          out += SessionOut(userId, s.sessionIdx, s.nEvents, s.startEs, s.lastEs - s.startEs)
          st = SessionState(s.sessionIdx + 1, e.es, e.es, 1L)
        case s =>
          // events are only sorted WITHIN a micro-batch: a cross-batch
          // late event may carry es < lastEs (or < startEs). Merge with
          // min/max so the open session can never shrink its gap window
          // or emit a negative duration.
          st = s.copy(startEs = math.min(s.startEs, e.es),
            lastEs = math.max(s.lastEs, e.es), nEvents = s.nEvents + 1)
      }
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** Sessionization with EVENT-TIME TIMEOUT — the production variant:
    * a session also closes when the watermark passes its gap deadline,
    * not only when the same user's next event arrives. Without this, a
    * user who goes quiet holds an open session (and its state) forever.
    * Input must carry a `ts` watermark; es is derived tz-agnostically
    * from the NTZ wall clock. */
  def sessionizeWithTimeout(events: DataFrame,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      // ts must SURVIVE the projection: the event-time-timeout checker
      // requires the watermark attribute to reach the stateful operator
      .select(col("user_id"), col("event_id"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP_NTZ))")
          .as("es"), col("ts"))
      .as[Evt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionizeTimeoutGroup)
  }

  private[streaming] def sessionizeTimeoutGroup(
      userId: Long, events: Iterator[Evt],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {
      // the watermark passed lastEs + GapSec with no new event: the gap
      // is definitively exceeded — close and evict
      val s = state.get
      state.remove()
      Iterator.single(openSession(userId, s))
    } else {
      val out = sessionizeGroup(userId, events, state)
      state.getOption.foreach { s =>
        // fires once the event-time watermark passes the gap deadline
        state.setTimeoutTimestamp((s.lastEs + GapSec) * 1000L + 999L)
      }
      out
    }
  }

  final case class FEvt(user_id: Long, event_id: Long, event_type: String, es: Long)
  /** Accumulating funnel state: the running min view plus PRUNED sorted
    * candidate lists for the later stages; `emitted` tombstones a user
    * whose funnel has been finalized so stragglers can never produce a
    * second (different) row. */
  final case class FunnelAcc(minView: Long, clicks: List[Long],
      purchases: List[Long], emitted: Boolean)
  final case class FunnelOut(
      user_id: Long, view_es: Long, click_es: Long, purchase_es: Long)

  /** Streaming twin of `Events.funnel`, exact on ARBITRARY cross-batch
    * arrival order: stage events fold into per-stage candidate minima
    * (min-merge, like [[sessionizeGroup]]'s min/max fix), and a user's
    * funnel is emitted on EVENT-TIME-TIMEOUT once the watermark passes
    * the purchase answer — never greedily on purchase arrival, so a
    * late-but-earlier click/view can still lower a stage minimum right
    * up to the moment the watermark makes it inadmissible.
    *
    * State per user is the min view plus candidate clicks/purchases
    * pruned to those that could still become a stage answer (everything
    * strictly above the current stage successor is provably never the
    * min — see [[funnelFold]]); on causally-ordered real funnels that is
    * O(1) per user. Users who never complete hold state until a
    * deployment-chosen TTL (same caveat as [[sessionize]]'s open
    * sessions). */
  def funnelStream(events: DataFrame,
      watermarkDelay: String = "10 minutes"): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      // ts must survive the projection so the watermark reaches the
      // stateful operator (same requirement as sessionizeWithTimeout)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP_NTZ))")
          .as("es"), col("ts"))
      .as[FEvt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        funnelGroup)
  }

  private def insertDistinctSorted(xs: List[Long], x: Long): List[Long] =
    if (xs.contains(x)) xs else (x :: xs).sorted

  /** Fold a batch of stage events into the accumulator and prune.
    * Pruning is EXACT: the final min view can only be ≤ the current
    * one, so the final click answer — the first click strictly above
    * the final min view — can only be ≤ the current successor; clicks
    * strictly above the current successor can never become the answer
    * and are dropped. The same argument prunes purchases against the
    * current click answer. */
  private[streaming] def funnelFold(acc: FunnelAcc, evts: Seq[FEvt]): FunnelAcc = {
    var minView = acc.minView
    var clicks = acc.clicks
    var purchases = acc.purchases
    evts.foreach { e =>
      e.event_type match {
        case "view" => if (minView < 0 || e.es < minView) minView = e.es
        case "click" => clicks = insertDistinctSorted(clicks, e.es)
        case "purchase" => purchases = insertDistinctSorted(purchases, e.es)
        case _ =>
      }
    }
    if (minView >= 0) {
      clicks.find(_ > minView).foreach { s => clicks = clicks.filter(_ <= s) }
      val clickAns = clicks.find(_ > minView).getOrElse(-1L)
      if (clickAns >= 0)
        purchases.find(_ > clickAns).foreach { s =>
          purchases = purchases.filter(_ <= s)
        }
    }
    FunnelAcc(minView, clicks, purchases, acc.emitted)
  }

  /** The batch-semantics stage answers under the current candidates:
    * min view, first click strictly after it, first purchase strictly
    * after that (−1 = stage not reached). */
  private[streaming] def funnelAnswers(acc: FunnelAcc): (Long, Long, Long) = {
    val v = acc.minView
    val c = if (v >= 0) acc.clicks.find(_ > v).getOrElse(-1L) else -1L
    val p = if (c >= 0) acc.purchases.find(_ > c).getOrElse(-1L) else -1L
    (v, c, p)
  }

  private[streaming] def funnelGroup(
      userId: Long, events: Iterator[FEvt],
      state: GroupState[FunnelAcc]): Iterator[FunnelOut] = {
    if (state.hasTimedOut) {
      val acc = state.get
      val (v, c, p) = funnelAnswers(acc)
      if (p >= 0) {
        // the deadline sat at the purchase answer, so the watermark now
        // exceeds it: any event that could still lower a stage minimum
        // (necessarily at or below the answers) is inadmissible — the
        // chain is final. Tombstone so stragglers can never re-emit.
        state.update(FunnelAcc(v, Nil, Nil, emitted = true))
        Iterator.single(FunnelOut(userId, v, c, p))
      } else Iterator.empty
    } else {
      val acc0 = state.getOption.getOrElse(FunnelAcc(-1L, Nil, Nil, emitted = false))
      if (acc0.emitted) Iterator.empty // finalized: consume and ignore
      else {
        val acc = funnelFold(acc0, events.toSeq)
        state.update(acc)
        val (_, _, p) = funnelAnswers(acc)
        if (p >= 0)
          // finalize when the watermark passes the purchase answer;
          // re-set every batch because late stage events can lower it
          state.setTimeoutTimestamp(math.max(p * 1000L + 999L,
            state.getCurrentWatermarkMs + 1L))
        Iterator.empty
      }
    }
  }

  /** Flush helper for tests/drains: the still-open session per state. */
  def openSession(userId: Long, st: SessionState): SessionOut =
    SessionOut(userId, st.sessionIdx, st.nEvents, st.startEs, st.lastEs - st.startEs)

  /** Streaming exact dedup: drop events whose id was already seen,
    * with state bounded by the watermark (the streaming twin of
    * Dedup.exact). `dropDuplicatesWithinWatermark` keys state on the id
    * ALONE — a replay with a re-stamped timestamp is still dropped —
    * and evicts state past the watermark, so state is O(events per
    * watermark window). */
  /** Monitored columns of the event stream: (name, is-string). */
  val CompletenessCols: Seq[(String, Boolean)] =
    Seq("user_id" -> false, "event_type" -> true, "value" -> false,
      "props" -> true)

  /** Shared window-completeness aggregation — applied to the
    * watermarked stream by [[completenessMonitorStream]] and to the
    * static frame by the parity spec, so the two can never drift. */
  private[graft] def completenessWindowed(events: DataFrame): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      CompletenessCols.flatMap { case (c, isStr) =>
        Seq(sum(col(c).isNull.cast("long")).as(s"__nn_$c")) ++
          (if (isStr) Seq(sum((col(c).isNotNull && trim(col(c)) === "")
            .cast("long")).as(s"__nb_$c"))
          else Nil)
      }
    val melted = CompletenessCols.flatMap { case (c, isStr) =>
      Seq(lit(c): org.apache.spark.sql.Column,
        struct(col(s"__nn_$c").as("n_null"),
          (if (isStr) col(s"__nb_$c") else lit(null).cast("long"))
            .as("n_blank")))
    }
    events
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("w.start").as("window_start"), col("n_rows"),
        explode(map(melted: _*)).as(Seq("column_name", "m")))
      .select(col("window_start"), col("column_name"), col("n_rows"),
        col("m.n_null").as("n_null"), col("m.n_blank").as("n_blank"))
  }

  /** Streaming column-completeness monitor — the stream twin of
    * [[graft.operators.DataQuality.nullProfile]]: per 5-minute window,
    * null/blank counters for every monitored event column. All
    * counters collapse into ONE stateless windowed aggregate (one
    * state row per window, evicted at the watermark — no per-key
    * explosion); the per-column melt is a projection after the agg.
    * The alerting layer reads null-rate spikes per window — a feed
    * that starts nulling `props` shows here a micro-batch later. */
  def completenessMonitorStream(events: DataFrame): DataFrame =
    completenessWindowed(events.withWatermark("ts", "10 minutes"))

  /** Shared window key-cardinality aggregation — HLL distinct counts
    * per monitored column per window; one row of sketch state per
    * window (mergeable, order-independent → batch-split parity is
    * EXACT, not approximate-vs-approximate). */
  private[graft] def keyCardinalityWindowed(events: DataFrame): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      CompletenessCols.map { case (c, _) =>
        approx_count_distinct(col(c)).as(s"__d_$c")
      }
    val melted = CompletenessCols.flatMap { case (c, _) =>
      Seq(lit(c): org.apache.spark.sql.Column, col(s"__d_$c"))
    }
    events
      .groupBy(window(col("ts"), "5 minutes").as("w"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("w.start").as("window_start"), col("n_rows"),
        explode(map(melted: _*)).as(Seq("column_name", "n_distinct")))
  }

  /** Streaming key-cardinality monitor — the stream twin of
    * [[graft.operators.DataQuality.keyProfileApprox]]: per 5-minute
    * window, HLL distinct counts for every monitored event column in
    * ONE stateless windowed aggregate (sketches merge across
    * micro-batches; state is one sketch row per window, evicted at the
    * watermark). The duplicate-flood / id-rollover alarm: a feed that
    * starts reusing event keys shows a distinct-count collapse here a
    * micro-batch later. */
  def keyCardinalityMonitorStream(events: DataFrame): DataFrame =
    keyCardinalityWindowed(events.withWatermark("ts", "10 minutes"))

  def dedupStream(events: DataFrame, idCol: String = "event_id"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-static anomaly scoring — the production monitoring shape:
    * per-type moments are maintained by the batch layer (exact
    * fixed-point sums, [[graft.operators.Events.valueStatsOf]]) and the
    * live stream is scored by a stateless broadcast join + filter
    * against them. No streaming state at all, so throughput is scan
    * speed; the scorer column math is shared with the batch twin and
    * can never drift from it. */
  def anomalyStream(events: DataFrame, stats: DataFrame): DataFrame =
    graft.operators.Events.anomaliesOf(events, stats)

  /** Stream-static winsorization: the per-type clamp bounds are trained
    * once on the static corpus and broadcast; the live stream is capped
    * by a stateless map-side join — same shape as [[anomalyStream]],
    * same shared column math as the batch twin. */
  def winsorizeStream(events: DataFrame, bounds: DataFrame): DataFrame =
    graft.operators.Events.winsorizeWith(events, bounds)

  /** Streaming heavy hitters: the Misra-Gries mergeable sketch as a
    * complete-mode streaming aggregate — micro-batch partials merge
    * into the state-store buffer exactly as map-side partials merge in
    * batch (the aggregate's merge guarantee is property-tested), so the
    * standing top-talker candidates are always O(k) state regardless of
    * stream length or key cardinality. Emits one row: the candidate
    * list + total count; the exact-recount pass runs batch-side against
    * a table snapshot exactly as [[graft.operators.Events.heavyUsers]]
    * does. */
  def heavyHittersStream(events: DataFrame, k: Int): DataFrame = {
    events.groupBy().agg(
      call_function("graft_heavy_hitters", col("user_id"), lit(k)).as("cand"),
      count(lit(1)).as("n"))
  }

  /** Streaming bot/burst detection — the alerting twin of
    * [[graft.operators.Events.botRate]]: tumbling 1-hour per-user
    * counts under the watermark, emitting only windows that cross the
    * batch twin's [[graft.operators.Events.BotMaxPerHour]] threshold.
    * Epoch-aligned `window(ts, "1 hour")` buckets coincide exactly with
    * the batch `es DIV 3600` buckets, so an alert here is the same
    * (user, hour) the batch audit would flag. State is one count per
    * live (window, user), evicted past the watermark — O(active users
    * per watermark window) at any stream length. */
  def botRateStream(events: DataFrame,
      minPerHour: Long = graft.operators.Events.BotMaxPerHour): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minPerHour)
      .select(col("w.start").as("hour_start"), col("user_id"), col("n"))

  /** Streaming cart-abandonment flags — the per-(day, user) click/
    * purchase flag layer of [[graft.operators.Events.cartAbandonment]]
    * as a watermarked daily window aggregate: each closed day emits one
    * row per active clicker with the purchased flag resolved, and the
    * tiny day-level rollup (a few hundred rows/year) runs wherever the
    * alert lands — keeping ONE stateful operator in the stream, the
    * shape Spark's append-mode planner is happiest with. State is two
    * max-flags per live (day, user), evicted past the watermark. */
  def cartFlagsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicked"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchased"))
      .where(col("clicked") === 1L)
      .select(col("w.start").cast("date").as("day"), col("user_id"),
        col("purchased"))

  final case class UserDay(user_id: Long, eday: Long)
  final case class ReactState(lastDay: Long)
  final case class ReactOut(user_id: Long, eday: Long, gap_days: Long)

  /** Shared with the batch twin. */
  val DormantDays: Long = graft.operators.Events.DormantDays.toLong

  /** Streaming reactivation detector — the stateful twin of
    * [[graft.operators.Events.reactivation]]: O(1) state per user (the
    * last active epoch day), emitting a (user, day, gap) event when a
    * user returns after ≥ [[DormantDays]] days. This is the state shape
    * windows cannot express (the gap spans unbounded history), and the
    * emitted feed drives the win-back campaign directly; the per-day
    * rate rollup stays batch-side.
    *
    * Delivery contract: micro-batches are processed in event-time
    * order per user WITHIN a batch, and state advances monotonically
    * (max day), so time-ordered delivery per user — the per-key
    * ordering a keyed log gives — reproduces the batch answer exactly
    * (asserted by the parity spec on time-split batches). A late event
    * older than the state is counted against the LATEST day, the
    * standard at-ingest semantics. */
  def reactivationStream(userDays: Dataset[UserDay],
      gapDays: Long = DormantDays): Dataset[ReactOut] = {
    import userDays.sparkSession.implicits._
    userDays
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        reactivationGroup(gapDays))
  }

  private[streaming] def reactivationGroup(gapDays: Long)(
      userId: Long, days: Iterator[UserDay],
      state: GroupState[ReactState]): Iterator[ReactOut] = {
    val sorted = days.toSeq.map(_.eday).distinct.sorted
    var last = state.getOption.map(_.lastDay).getOrElse(Long.MinValue)
    val out = Seq.newBuilder[ReactOut]
    sorted.foreach { d =>
      if (d > last) {
        if (last != Long.MinValue && d - last >= gapDays)
          out += ReactOut(userId, d, d - last)
        last = d
      }
    }
    state.update(ReactState(last))
    out.result().iterator
  }

  /** Streaming trending-items count layer — the per-(day, item)
    * view/click counts of [[graft.operators.Events.trendingItems]] as a
    * watermarked daily window aggregate. The JSON item probe runs
    * map-side (stateless) before the ONE stateful windowed count;
    * each closed day emits its item counts in append mode, and the
    * per-day top-k (a k-row bounded heap over a few hundred items)
    * rolls up batch-side where the feed is served — same division of
    * labor as [[cartFlagsStream]]. State is one counter per live
    * (day, item), evicted past the watermark. */
  def trendingCountsStream(events: DataFrame): DataFrame =
    events
      .where(col("event_type").isin("view", "click"))
      .select(col("ts"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 day").as("w"), col("item"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("date").as("day"), col("item"), col("n"))

  /** Stream-stream interval self-join: pairs of same-user events within
    * `boundSec` seconds (the streaming twin of
    * operators.IntervalJoin.eventPairs). Both sides carry watermarks and
    * the join condition bounds event time on both ends, so Spark can
    * evict join state once the watermark passes — state is O(events per
    * watermark window), the requirement for an unbounded stream. */
  def intervalPairsStream(events: DataFrame, boundSec: Long): DataFrame = {
    // second-truncate INSIDE the operator (the repo-wide rule for
    // gap/window math): raw µs-precision timestamps would flip pair
    // membership at the bound and diverge from the batch twin, which
    // works on epoch seconds
    val e = events.select(col("user_id"), col("event_id"),
      date_trunc("second", col("ts")).as("ts"))
    val a = e.select(col("user_id"), col("event_id").as("a_id"),
        col("ts").as("a_ts"))
      .withWatermark("a_ts", "10 minutes")
    val b = e.select(col("user_id"), col("event_id").as("b_id"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", "10 minutes")
    a.join(b,
      expr(s"""a_id != b_id AND
              |b_ts >= a_ts AND b_ts <= a_ts + INTERVAL $boundSec SECONDS AND
              |(a_ts < b_ts OR (a_ts = b_ts AND a_id < b_id))""".stripMargin)
        && a("user_id") === b("user_id"))
      .select(a("user_id"), col("a_id"), col("b_id"),
        expr("timestampdiff(SECOND, a_ts, b_ts)").as("gap_sec"))
  }

  /** Streaming signup→purchase conversion joiner — the stream-stream
    * LEFT OUTER twin of [[graft.operators.Events.signupConversion]]'s
    * time-bounded join: signups match every purchase by the same user
    * inside the conversion window, and a signup the watermark proves
    * unmatched emits ONCE with a null purchase time (the
    * never-converted row the batch twin keeps via its left join).
    * Both sides carry watermarks and the join condition bounds purchase
    * time on both ends, so join state evicts at signup_ts + window +
    * watermark — O(events per window+watermark horizon) at any stream
    * length. First-purchase resolution and the cohort-day rollup stay
    * batch-side aggregates over this feed (one stateful op in-stream).
    * Timestamps second-truncated inside the operator (the repo rule). */
  def signupJoinStream(events: DataFrame, windowSec: Long): DataFrame = {
    val su = events.where(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"),
        date_trunc("second", col("ts")).as("s_ts"))
      .withWatermark("s_ts", "10 minutes")
    val pu = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"),
        date_trunc("second", col("ts")).as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    su.join(pu,
      col("s_uid") === col("p_uid") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      "leftOuter")
      .select(col("s_uid").as("user_id"), col("s_ts"), col("p_ts"))
  }

  /** File-stream source over an events directory (the deployment shape:
    * new parquet files land, Spark incrementally processes them). */
  def fileSource(spark: org.apache.spark.sql.SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Checkpointed parquet sink — exactly-once file output. */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
      outputMode: String = "append"): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(outputMode)
      .start()
}
