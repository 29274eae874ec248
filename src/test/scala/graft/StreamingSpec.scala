package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.Events
import graft.sources.Tables
import graft.streaming.{DocumentStreams, EventStreams}
import graft.streaming.EventStreams.{Evt, SessionOut}

class StreamingSpec extends SparkSpec {
  override lazy val spark: SparkSession = SparkSpec.streamingSession

  /** Every query's checkpoint goes to its own dir under this root,
    * deleted after the suite: a query started without a
    * `checkpointLocation` makes a temporary one and logs a warning. */
  private lazy val checkpointRoot = Files.createTempDirectory("graft_stream_ckpt")

  private implicit class MemorySink[T](w: DataStreamWriter[T]) {
    /** The memory sink as table `name`, checkpointed in a fresh dir. */
    def toMemory(name: String): DataStreamWriter[T] =
      w.format("memory").queryName(name).option("checkpointLocation",
        Files.createTempDirectory(checkpointRoot, name).toString)
  }

  override def afterAll(): Unit = {
    val walk = Files.walk(checkpointRoot)
    try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally walk.close()
  }

  test("streaming windowed agg matches the batch twin (counts AND money sums)") {
    import spark.implicits._
    val batch = Events.windowedAgg(spark, sfDir)
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val streamDf = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedAgg(streamDf)
      .writeStream.toMemory("win_out")
      .outputMode("complete").start()
    val rows = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
    input.addData(rows.toSeq)
    q.processAllAvailable()
    // sum_value included: the fixed-point moneySum must be bit-identical
    // between the streaming and batch twins, not just the counts
    val streamed = spark.table("win_out")
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming sliding agg matches the batch twin across a batch split") {
    import spark.implicits._
    val batch = Events.slidingAgg(spark, sfDir)
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val streamDf = input.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.slidingAgg(streamDf)
      .writeStream.toMemory("slide_out")
      .outputMode("complete").start()
    val rows = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
    // split into two micro-batches: per-window money sums must merge
    // order-independently (the fixed-point discipline)
    val (first, second) = rows.splitAt(rows.length / 2)
    input.addData(first.toSeq); q.processAllAvailable()
    input.addData(second.toSeq); q.processAllAvailable()
    val streamed = spark.table("slide_out")
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming bot-rate flags exactly the batch (user, hour) buckets") {
    import spark.implicits._
    // threshold 2 (not the production 3): sf0.001's busiest hour has 2
    // events, and a parity test over an empty flagged set proves nothing
    val minPerHour = 2L
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minPerHour)
      .select(col("w.start").cast("string"), col("user_id"), col("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty, "threshold 2 must flag busy hours at sf0.001")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val streamDf = input.toDF().toDF("ts", "user_id")
    val q = EventStreams.botRateStream(streamDf, minPerHour)
      .writeStream.toMemory("bot_out")
      .outputMode("complete").start()
    val rows = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("user_id")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)))
    // split across two micro-batches: per-window counts must merge
    val (first, second) = rows.splitAt(rows.length / 2)
    input.addData(first.toSeq)
    q.processAllAvailable()
    input.addData(second.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("bot_out")
      .select(col("hour_start").cast("string"), col("user_id"), col("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming cart flags match the batch user-day flags across a split") {
    import spark.implicits._
    val batch = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).cast("string").as("day"), col("user_id"),
        col("event_type"))
      .groupBy("day", "user_id")
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicked"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchased"))
      .where(col("clicked") === 1L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    assert(batch.nonEmpty)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val streamDf = input.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStreams.cartFlagsStream(streamDf)
      .writeStream.toMemory("cart_out")
      .outputMode("complete").start()
    val rows = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("user_id"), col("event_type"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2)))
    val (a, b) = rows.splitAt(rows.length / 2)
    input.addData(a.toSeq)
    q.processAllAvailable()
    input.addData(b.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("cart_out")
      .select(col("day").cast("string"), col("user_id"), col("purchased"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming trending counts match the batch layer; top-k replays on top") {
    import spark.implicits._
    val batchCounts = Tables.events(spark, sfDir)
      .where(col("event_type").isin("view", "click"))
      .select(to_date(col("ts")).as("day"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      .groupBy("day", "item").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(batchCounts.nonEmpty)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, String)]
    val streamDf = input.toDF().toDF("ts", "event_type", "props")
    val q = EventStreams.trendingCountsStream(streamDf)
      .writeStream.toMemory("trend_out")
      .outputMode("complete").start()
    val rows = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("event_type"), col("props"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2)))
    val (a, b) = rows.splitAt(rows.length / 2)
    input.addData(a.toSeq)
    q.processAllAvailable()
    input.addData(b.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("trend_out")
      .select(col("day").cast("string"), col("item"), col("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == batchCounts)
    // the batch-side top-k rollup over the streamed counts replays the
    // full batch operator (heap ties break to the smaller item id)
    val topFromStream = spark.table("trend_out")
      .select(col("day").cast("string").as("day"), col("item"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (day, gs) =>
        gs.sortBy(t => (-t._3, t._2)).take(Events.TrendK)
          .zipWithIndex.map { case ((_, item, n), i) => (day, i + 1, item, n) }
          .toSeq
      }.toSet
    val batchTop = Events.trendingItems(spark, sfDir).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(topFromStream == batchTop)
  }

  test("streaming reactivation replays the batch monitor on time-split batches") {
    import spark.implicits._
    val gap = 2L
    val batch = Events.reactivationWithGap(spark, sfDir, gap).collect()
      .map(r => r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay ->
        r.getAs[Long]("n_reactivated")).toMap
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.UserDay]
    val q = EventStreams.reactivationStream(input.toDS(), gap)
      .writeStream.toMemory("react_out")
      .outputMode("append").start()
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("eday"))
      .distinct().collect()
      .map(r => EventStreams.UserDay(r.getLong(0), r.getLong(1)))
      .sortBy(_.eday)
    val (a, b) = rows.splitAt(rows.length / 2)
    input.addData(a.toSeq)
    q.processAllAvailable()
    input.addData(b.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("react_out").collect()
      .groupBy(_.getAs[Long]("eday")).view.mapValues(_.length.toLong).toMap
    q.stop()
    val expNonZero = batch.filter(_._2 > 0)
    assert(streamed == expNonZero,
      "per-day reactivation counts must replay the batch monitor")
    assert(expNonZero.nonEmpty, "this corpus must contain dormancy gaps")
  }

  test("streaming near-dup screen hits exactly the batch candidate buckets") {
    import spark.implicits._
    import graft.operators.{Curation, Dedup}
    val isBatch = Curation.portableHash(col("doc_id")) % 10 === 0
    val corpusBuckets = Dedup.minhashBuckets(spark, sfDir).where(!isBatch)
    // batch-side expectation: batch buckets ⋈ corpus buckets
    val expected = Dedup.minhashBuckets(spark, sfDir).where(isBatch)
      .select(col("doc_id"), col("band"), col("sig"))
      .join(corpusBuckets.select(col("doc_id").as("corpus_id"), col("band"),
        col("sig")), Seq("band", "sig"))
      .select("doc_id", "corpus_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "planted near-dups must cross the boundary")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val streamDf = input.toDF().toDF("doc_id", "text")
    val q = DocumentStreams.nearDupScreenStream(streamDf, corpusBuckets)
      .writeStream.toMemory("screen_out")
      .outputMode("append").start()
    val batchDocs = Tables.table(spark, sfDir, "documents").where(isBatch)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (a, b) = batchDocs.splitAt(batchDocs.length / 2)
    input.addData(a.toSeq)
    q.processAllAvailable()
    input.addData(b.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("screen_out")
      .select("doc_id", "corpus_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(streamed == expected,
      "per-row streaming signature must hit the same buckets as the batch path")
  }

  test("streaming substring screen hits exactly the batch gram probes") {
    import spark.implicits._
    import graft.operators.{Curation, Dedup}
    val k = Dedup.CoverageK
    val isBatch = Curation.portableHash(col("doc_id")) % 10 === 0
    val docs = Tables.table(spark, sfDir, "documents")
    val corpusGrams = Dedup.gramHashIndexOf(docs.where(!isBatch))
    // batch-side expectation: the hashed gram probe of the batch docs
    val expected = docs.where(isBatch)
      .where(length(col("text")) >= k)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - lit(k - 1))).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        xxhash64(col("text").substr(col("pos"), lit(k))).as("gh"))
      .join(corpusGrams, "gh")
      .select("doc_id", "pos", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(expected.nonEmpty, "boilerplate must cross the batch boundary")

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val streamDf = input.toDF().toDF("doc_id", "text")
    val q = DocumentStreams.dupCoverageScreenStream(streamDf, corpusGrams)
      .writeStream.toMemory("substr_out")
      .outputMode("append").start()
    val batchDocs = docs.where(isBatch)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (a, b) = batchDocs.splitAt(batchDocs.length / 2)
    input.addData(a.toSeq)
    q.processAllAvailable()
    input.addData(b.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("substr_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == expected,
      "per-row streaming gram hashes must probe like the batch kernel")
  }

  test("stream-static anomaly scoring matches the batch twin exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = Events.valueAnomalies(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    val stats = Events.valueStatsOf(Tables.events(spark, sfDir))
    val input = MemoryStream[(Long, String, Double)]
    val streamDf = input.toDF().toDF("event_id", "event_type", "value")
    val q = EventStreams.anomalyStream(streamDf, stats)
      .writeStream.toMemory("anom_out")
      .outputMode("append").start()
    val rows = Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // two micro-batches: scoring is stateless, split must not matter
    val (first, second) = rows.splitAt(rows.length / 2)
    input.addData(first.toSeq); q.processAllAvailable()
    input.addData(second.toSeq); q.processAllAvailable()
    val streamed = spark.table("anom_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    q.stop()
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming heavy hitters keep the MG guarantee across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 8
    val input = MemoryStream[Long]
    val q = EventStreams.heavyHittersStream(input.toDF().toDF("user_id"), k)
      .writeStream.toMemory("hh_out")
      .outputMode("complete").start()
    val users = Tables.events(spark, sfDir).select("user_id").collect()
      .map(_.getLong(0))
    val (first, second) = users.splitAt(users.length / 2)
    input.addData(first.toSeq); q.processAllAvailable()
    input.addData(second.toSeq); q.processAllAvailable()
    val row = spark.table("hh_out").head()
    q.stop()
    val n = row.getAs[Long]("n")
    assert(n == users.length)
    val cand = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("cand")
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("est")).toMap
    val truth = users.groupBy(identity).map { case (u, g) => u -> g.length.toLong }
    // the MG guarantee after arbitrary merges: every user above
    // n/(k+1) survives in the sketch, and estimates never exceed truth
    truth.filter(_._2 * (k + 1) > n).keys.foreach(u =>
      assert(cand.contains(u), s"hot user $u evicted"))
    cand.foreach { case (u, est) => assert(est <= truth(u), s"user $u") }
  }

  test("stream-static winsorize matches the batch twin exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = Events.winsorize(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))).toSet
    val bounds = Events.winsorizeBoundsOf(Tables.events(spark, sfDir))
    val input = MemoryStream[(Long, String, Double)]
    val streamDf = input.toDF().toDF("event_id", "event_type", "value")
    val q = EventStreams.winsorizeStream(streamDf, bounds)
      .writeStream.toMemory("wins_out")
      .outputMode("append").start()
    val rows = Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val (first, second) = rows.splitAt(rows.length / 2)
    input.addData(first.toSeq); q.processAllAvailable()
    input.addData(second.toSeq); q.processAllAvailable()
    val streamed = spark.table("wins_out").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
        r.getAs[Double]("value"), r.getAs[Double]("clamped"),
        r.getAs[Boolean]("was_capped"))).toSet
    q.stop()
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-stream left-outer signup join emits matches AND proven non-converters") {
    import spark.implicits._
    val windowSec = 86400L // 1-day window keeps the test corpus lively
    // batch expectation: every signup event × every same-user purchase
    // in [s, s+window], plus a null row per signup with no such purchase
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"),
        expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val purchases = ev.filter(_._2 == "purchase").groupBy(_._1)
      .map { case (u, rows) => u -> rows.map(_._3) }
    val expected: Set[(Long, Long, Option[Long])] =
      ev.filter(_._2 == "signup").flatMap { case (u, _, ses) =>
        val hits = purchases.getOrElse(u, Array.empty[Long])
          .filter(p => p >= ses && p <= ses + windowSec)
        if (hits.isEmpty) Seq((u, ses, None))
        else hits.map(p => (u, ses, Some(p))).toSeq
      }.toSet

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val streamDf = input.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStreams.signupJoinStream(streamDf, windowSec)
      .writeStream.toMemory("sconv_out")
      .outputMode("append").start()
    val rows = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("user_id"), col("event_type"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2)))
    val (a, b) = rows.splitAt(rows.length / 2)
    input.addData(a.toSeq)
    q.processAllAvailable()
    input.addData(b.toSeq)
    q.processAllAvailable()
    // sentinel signup+purchase far past every window end: advances both
    // watermarks so every real signup's outcome is PROVEN and emitted
    val far = new java.sql.Timestamp(
      rows.map(_._1.getTime).max + 90L * 86400 * 1000)
    input.addData(Seq((far, -1L, "signup"), (far, -1L, "purchase")))
    q.processAllAvailable()
    val streamed = spark.table("sconv_out")
      .where(col("user_id") >= 0)
      .select(col("user_id"),
        expr("timestampdiff(SECOND, TIMESTAMP '1970-01-01 00:00:00', s_ts)"),
        expr("timestampdiff(SECOND, TIMESTAMP '1970-01-01 00:00:00', p_ts)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    q.stop()
    assert(streamed == expected)
    assert(expected.exists(_._3.isEmpty) && expected.exists(_._3.nonEmpty),
      "corpus exercises both outcomes")
  }

  test("stream-stream interval join matches the batch bucket join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val streamDf = input.toDF().toDF("user_id", "event_id", "ts")
    val q = EventStreams
      .intervalPairsStream(streamDf, graft.operators.IntervalJoin.BoundSec)
      .writeStream.toMemory("ival_out")
      .outputMode("append").start()
    // feed RAW µs-precision timestamps: the operator itself
    // second-truncates, so the stream must match batch on arbitrary input
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    input.addData(rows.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("ival_out")
      .select("user_id", "a_id", "b_id", "gap_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    val batch = graft.operators.IntervalJoin.eventPairs(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
  }

  test("streaming funnel matches batch on ARBITRARY cross-batch arrival order") {
    import spark.implicits._
    import graft.streaming.EventStreams.FunnelOut
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val streamDf = input.toDF().toDF("user_id", "event_id", "event_type", "ts")
    // watermark delay longer than the data span: the deliberate disorder
    // below never drops an event, and emission happens only at the
    // sentinel-driven closure
    val q = EventStreams.funnelStream(streamDf, "3650 days")
      .writeStream.toMemory("funnel_out")
      .outputMode("append").start()
    val evts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("timestamp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3)))
    // deterministic shuffle across FOUR micro-batches: clicks arrive
    // before their views, late-but-earlier stage events arrive after a
    // later one was already recorded — the cross-batch ordering hole
    val shuffled = new scala.util.Random(12345L).shuffle(evts.toSeq)
    shuffled.grouped((shuffled.size + 3) / 4).foreach { b =>
      input.addData(b); q.processAllAvailable()
    }
    // advance the watermark past every purchase deadline with a sentinel
    // user, then one more batch so the new watermark drives the timeouts
    val maxTs = evts.map(_._4.getTime).max
    val far = new java.sql.Timestamp(maxTs + 3651L * 24 * 3600 * 1000)
    input.addData(Seq((-1L, 1L, "view", far))); q.processAllAvailable()
    input.addData(Seq((-1L, 2L, "view", far))); q.processAllAvailable()
    val streamed = spark.table("funnel_out").where(col("user_id") =!= -1L)
      .as[FunnelOut].collect()
      .map(f => (f.user_id, f.view_es, f.click_es, f.purchase_es)).toSet
    q.stop()
    val batchComplete = Events.funnel(spark, sfDir).collect()
      .filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batchComplete)
    assert(streamed.nonEmpty)
  }

  test("timeout sessionization recovers the COMPLETE batch session set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val streamDf = input.toDF().toDF("user_id", "event_id", "ts")
    val q = EventStreams.sessionizeWithTimeout(streamDf)
      .writeStream.toMemory("sess_to_out")
      .outputMode("append").start()
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
      .sortBy(r => (r._3.getTime, r._2))
    input.addData(rows.toSeq)
    q.processAllAvailable()
    // advance the watermark far past every gap deadline with a sentinel
    // user, then one more batch so the new watermark drives the timeouts
    val maxTs = rows.map(_._3.getTime).max
    val far = new java.sql.Timestamp(maxTs + 3 * 3600 * 1000L)
    input.addData(Seq((-1L, 1L, far))); q.processAllAvailable()
    input.addData(Seq((-1L, 2L, far))); q.processAllAvailable()
    val streamed = spark.table("sess_to_out")
      .where(col("user_id") =!= -1L).as[SessionOut].collect()
      .map(s => (s.user_id, s.session_idx, s.n_events, s.session_start_es,
        s.duration_sec)).toSet
    q.stop()
    // watermark closure emits EVERY session, including each user's last —
    // full equality with the batch twin, no subtraction
    val batchAll = Events.sessionize(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("session_start_es"),
        r.getAs[Long]("duration_sec"))).toSet
    assert(streamed == batchAll)
  }

  test("stateful sessionization matches the batch twin on closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Evt]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.toMemory("sess_out")
      .outputMode("append").start()
    val evts = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("es"))
      .as[Evt].collect().sortBy(e => (e.es, e.event_id))
    input.addData(evts.toSeq)
    q.processAllAvailable()
    val streamed = spark.table("sess_out").as[SessionOut].collect()
      .map(s => (s.user_id, s.session_idx, s.n_events, s.session_start_es)).toSet
    q.stop()

    val batchAll = Events.sessionize(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("session_start_es")))
    // streaming emits only CLOSED sessions; the last session per user is
    // still open, so batch minus its per-user last session == streamed
    val lastPerUser = batchAll.groupBy(_._1).map { case (_, g) => g.maxBy(_._2) }.toSet
    val closed = batchAll.toSet -- lastPerUser
    assert(streamed == closed)
  }

  test("streaming completeness monitor matches the batch windowed profile") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window_start").cast("string"), col("column_name"),
        col("n_rows"), col("n_null"), col("n_blank"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val batch = norm(EventStreams.completenessWindowed(src))
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Double, String)]
    val streamDf = input.toDF()
      .toDF("ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.completenessMonitorStream(streamDf)
      .writeStream.toMemory("compl_out")
      .outputMode("complete").start()
    val rows = src.collect().map(r => (r.getTimestamp(0), r.getLong(1),
      r.getString(2), r.getDouble(3), r.getString(4)))
    // counters are per-window algebraic: a batch split must not matter
    val (a, b) = rows.splitAt(rows.length / 2)
    input.addData(a.toSeq); q.processAllAvailable()
    input.addData(b.toSeq); q.processAllAvailable()
    val streamed = norm(spark.table("compl_out"))
    q.stop()
    assert(streamed == batch)
  }

  test("streaming key-cardinality monitor matches the batch windowed sketches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window_start").cast("string"), col("column_name"),
        col("n_rows"), col("n_distinct"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = norm(EventStreams.keyCardinalityWindowed(src))
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Double, String)]
    val streamDf = input.toDF()
      .toDF("ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.keyCardinalityMonitorStream(streamDf)
      .writeStream.toMemory("keycard_out")
      .outputMode("complete").start()
    val rows = src.collect().map(r => (r.getTimestamp(0), r.getLong(1),
      r.getString(2), r.getDouble(3), r.getString(4)))
    // HLL sketches merge associatively: a batch split must give the
    // IDENTICAL estimates, not merely close ones
    val (a, b) = rows.splitAt(rows.length / 3)
    input.addData(a.toSeq); q.processAllAvailable()
    input.addData(b.toSeq); q.processAllAvailable()
    val streamed = norm(spark.table("keycard_out"))
    q.stop()
    assert(streamed == batch)
  }

  test("stream-static cluster routing matches the batch k-means assignment") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.operators.Clustering.kmeans(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val cents = graft.operators.Clustering.kmeansCentroids(spark, sfDir)
    val input = MemoryStream[(Long, Seq[Double])]
    val streamDf = input.toDF().toDF("vec_id", "embedding")
    val q = graft.streaming.EmbeddingStreams
      .clusterAssignStream(streamDf, cents)
      .writeStream.toMemory("route_out")
      .outputMode("append").start()
    val rows = Tables.table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
    // routing is stateless: micro-batch split must not matter
    val (a, b) = rows.splitAt(rows.length / 2)
    input.addData(a.toSeq); q.processAllAvailable()
    input.addData(b.toSeq); q.processAllAvailable()
    val streamed = spark.table("route_out").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    q.stop()
    assert(streamed == batch)
  }

  test("streaming decode-health monitor matches the batch windowed rollup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal.MediaHeaders
    // a mixed image+audio feed with planted corrupt rows, 30s apart so
    // the records span several 5-minute windows
    val base = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val rows: Seq[(java.sql.Timestamp, String, Array[Byte])] =
      (1L to 60L).map { id =>
        val ts = new java.sql.Timestamp(base.getTime + id * 30000L)
        val (mt, p) =
          if (id % 5 == 0) ("wav", s"corrupt payload $id".getBytes("UTF-8"))
          else if (id % 7 == 0)
            ("mp4", MediaHeaders.synthMp4(600 + id, id * 37, 1 + id % 3,
              320 + id, 240 + id, id % 2 == 0))
          else if (id % 7 == 1)
            ("avi", MediaHeaders.synthAvi(10000 + id, id * 3, 1 + id % 2,
              640 + id, 480 + id, id % 2 == 1))
          else if (id % 3 == 0) ("png", MediaHeaders.synthPng(64 + id, 32 + id))
          else if (id % 2 == 0)
            ("wav", MediaHeaders.synthWav(1 + id % 2, 8000 + id, 8, 400 + id,
              id % 4 == 0))
          else ("mp3", MediaHeaders.synthMp3(id % 50, (1 + id % 14).toInt,
            (id % 3).toInt, (id % 4).toInt, id))
        (ts, mt, p)
      }
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window_start").cast("string"), col("media_type"),
        col("n_records"), col("n_corrupt"), col("total_bytes"),
        col("corrupt_rate"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    val batch = norm(graft.streaming.MediaStreams.decodeHealthWindowed(
      rows.toDF("ts", "media_type", "payload")))
    // corrupt rows exist and good rows exist, or the parity is vacuous
    assert(batch.exists(_._4 > 0) && batch.exists(t => t._4 < t._3))
    val input = MemoryStream[(java.sql.Timestamp, String, Array[Byte])]
    val streamDf = input.toDF().toDF("ts", "media_type", "payload")
    val q = graft.streaming.MediaStreams.decodeHealthMonitorStream(streamDf)
      .writeStream.toMemory("media_health_out")
      .outputMode("complete").start()
    // counters are per-window algebraic: a batch split must not matter
    val (a, b) = rows.splitAt(rows.length / 2)
    input.addData(a); q.processAllAvailable()
    input.addData(b); q.processAllAvailable()
    val streamed = norm(spark.table("media_health_out"))
    q.stop()
    assert(streamed == batch)
  }

  test("streaming text-lines ingest health matches the batch counters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the same line shape the batch writer produces, plus planted
    // garbage a crawler feed ships: short lines and non-numeric ids
    val good = Tables.table(spark, sfDir, "documents")
      .select(concat_ws("\t", col("doc_id"), col("lang"), col("source"),
        regexp_replace(col("text"), "[\\t\\n\\r]", " ")).as("value"))
      .collect().map(_.getString(0)).toSeq
    val garbage = Seq("not a doc line", "xx\tshort\tline", "NaN\ta\tb\tc")
    val lines = good ++ garbage
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_lines"),
        r.getAs[Long]("n_bad"), r.getAs[Long]("n_chars"))).toSet
    val batch = norm(graft.streaming.IngestStreams.ingestHealthStream(
      lines.toDF("value")))
    // garbage must be counted, not dropped: bad-line mass equals the plant
    assert(batch.toSeq.map(_._3).sum == garbage.length.toLong)
    assert(batch.exists(_._1 == "(unparsed)"))
    val input = MemoryStream[String]
    val q = graft.streaming.IngestStreams.ingestHealthStream(
      input.toDF().toDF("value"))
      .writeStream.toMemory("ingest_health_out")
      .outputMode("complete").start()
    // counters are algebraic: the batch split must not matter
    val (a, b) = lines.splitAt(lines.length / 2)
    input.addData(a); q.processAllAvailable()
    input.addData(b); q.processAllAvailable()
    val streamed = norm(spark.table("ingest_health_out"))
    q.stop()
    assert(streamed == batch)
  }

  test("streaming frontier URL screen matches the batch screen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // standing frontier = the corpus's canonical URL set (the cached
    // index the production screen reads)
    val known = graft.operators.Url.frontier(spark, sfDir)
    // arriving spellings: tracking-dressed variants of KNOWN pages
    // (must collapse to known=true), a genuinely new URL, and garbage
    val urls = Seq(
      "HTTP://HOST0.EXAMPLE:80/p0?b=2&a=0#frag",          // known via canon
      "http://host1.example/p1/?utm_source=x&a=1&b=2",    // known via canon
      "https://brand-new.example/path?z=1",               // novel
      "not a url at all")                                 // invalid
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("url"), Option(r.getAs[String]("canon_url")),
        Option(r.getAs[String]("canon_host")), r.getAs[Boolean]("valid"),
        r.getAs[Boolean]("known"))).toSet
    val batch = norm(graft.streaming.CrawlStreams.urlFrontierStream(
      urls.toDF("value"), known))
    assert(batch.count(_._5) == 2, "the dressed spellings collapse to known")
    assert(batch.exists(t => !t._4), "garbage screens as invalid, not fatal")
    assert(batch.exists(t => t._4 && !t._5), "the novel URL passes the screen")
    val input = MemoryStream[String]
    val q = graft.streaming.CrawlStreams.urlFrontierStream(
      input.toDF().toDF("value"), known)
      .writeStream.toMemory("url_screen_out")
      .outputMode("append").start()
    val (a, b) = urls.splitAt(2)
    input.addData(a); q.processAllAvailable()
    input.addData(b); q.processAllAvailable()
    val streamed = norm(spark.table("url_screen_out"))
    q.stop()
    assert(streamed == batch)
  }

  test("streaming robots screen matches the batch screen and the parser") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rules = graft.operators.Robots.rulesByHost(spark).localCheckpoint()
    // planted spellings: a disallowed path (host1 denies /p1 prefixes),
    // an allowed path on the same host, a disallowed-path spelling on
    // an override host (host3 carries the graftbot allow-all), a
    // canon-needing dressing, an unknown host, and garbage
    val urls = Seq(
      "http://host1.example/p1x?z=1",            // denied: /p1 prefix
      "http://host1.example/q5",                 // allowed, delay 2
      "http://host3.example/private/x",          // override host: allowed
      "HTTP://HOST1.EXAMPLE:80/other?utm_source=x", // dressed, allowed
      "https://unknown.example/x",               // no robots: allow-all
      "not a url")                               // invalid, not fatal
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("url"), Option(r.getAs[String]("canon_url")),
        r.getAs[Boolean]("valid"), r.getAs[Boolean]("allowed"),
        Option(r.getAs[java.lang.Long]("crawl_delay")).map(_.longValue)))
      .toSet
    val batch = norm(graft.streaming.CrawlStreams.robotsScreenStream(
      urls.toDF("value"), rules))
    val byUrl = batch.map(t => t._1 -> t).toMap
    assert(byUrl("http://host1.example/p1x?z=1")._4 == false)
    assert(byUrl("http://host1.example/q5") ==
      ("http://host1.example/q5", Some("http://host1.example/q5"),
        true, true, Some(2L)))
    assert(byUrl("http://host3.example/private/x")._4 == true,
      "the graftbot override allows everything on host3")
    assert(byUrl("http://host3.example/private/x")._5.isEmpty)
    assert(byUrl("HTTP://HOST1.EXAMPLE:80/other?utm_source=x") ==
      ("HTTP://HOST1.EXAMPLE:80/other?utm_source=x",
        Some("http://host1.example/other"), true, true, Some(2L)))
    assert(byUrl("https://unknown.example/x")._4 == true)
    assert(byUrl("https://unknown.example/x")._5.isEmpty)
    assert(byUrl("not a url") == ("not a url", None, false, false, None))
    // verdicts agree with the real parser applied directly
    val r1 = graft.operators.Robots.parse(graft.operators.Robots.robotsTxt(1))
    assert(r1.disallow.exists("/p1x?z=1".startsWith) &&
      r1.crawlDelay.contains(2L))
    val input = MemoryStream[String]
    val q = graft.streaming.CrawlStreams.robotsScreenStream(
      input.toDF().toDF("value"), rules)
      .writeStream.toMemory("robots_screen_out")
      .outputMode("append").start()
    val (a, b) = urls.splitAt(3)
    input.addData(a); q.processAllAvailable()
    input.addData(b); q.processAllAvailable()
    val streamed = norm(spark.table("robots_screen_out"))
    q.stop()
    assert(streamed == batch)
  }

  test("streaming sitemap ingestion matches the batch parse + screen") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val known = graft.operators.Url.frontier(spark, sfDir)
    // the synthesized bodies for three hosts, plus a corrupt-heavy body
    val feeds = Seq(0L, 1L, 5L)
      .map(h => (h, graft.operators.Sitemap.sitemapTxt(h))) :+
      (99L, "<urlset><url><loc>http://host0.example/p0?a=0&b=2</loc></url>" +
        "<url><lastmod>x</lastmod></url><url><loc>broken")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("host_id"), r.getAs[Int]("seq"),
        r.getAs[String]("loc"), Option(r.getAs[String]("canon_url")),
        r.getAs[Long]("body_corrupt"), r.getAs[Boolean]("valid"),
        r.getAs[Boolean]("known"))).toSet
    val batch = norm(graft.streaming.CrawlStreams.sitemapEntries(
      feeds.toDF("host_id", "xml"), known))
    // host 99's surviving entry: corrupt census 2, the good loc kept
    val h99 = batch.filter(_._1 == 99L)
    assert(h99.size == 1 && h99.head._5 == 2L && h99.head._6)
    // host 5 plants the garbage loc: valid=false surfaces, not fatal
    assert(batch.exists(t => t._1 == 5L && !t._6))
    // per-host row counts match the batch parser directly
    Seq(0L, 1L, 5L).foreach { h =>
      val es = graft.operators.Sitemap.parse(
        graft.operators.Sitemap.sitemapTxt(h))._1
      assert(batch.count(_._1 == h) == es.length, s"host $h")
    }
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.CrawlStreams.sitemapStream(
      input.toDF().toDF("host_id", "xml"), known)
      .writeStream.toMemory("sitemap_out")
      .outputMode("append").start()
    val (a, b) = feeds.splitAt(2)
    input.addData(a); q.processAllAvailable()
    input.addData(b); q.processAllAvailable()
    val streamed = norm(spark.table("sitemap_out"))
    q.stop()
    assert(streamed == batch)
  }

  test("streaming fetch scheduler replays the batch plan bit for bit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val quotas = graft.operators.CrawlBudget.crawlBudget(spark, sfDir)
      .select(col("host_id"), col("quota")).localCheckpoint()
    val delays = graft.operators.Robots.rulesTable(spark)
      .select(col("host_id"), col("crawl_delay").as("delay"))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("host_id"), r.getAs[Int]("slot"),
        r.getAs[String]("canon_url"), r.getAs[Long]("delay"),
        r.getAs[Long]("fetch_offset_s"))).toSet
    val batch = norm(graft.operators.CrawlBudget.fetchSchedule(spark, sfDir))
    assert(batch.nonEmpty)
    // the admitted-novel feed in per-host canonical order (what an
    // ordered frontier drain emits); ANY batch split of that order
    // must land every URL in the same slot the window plan gave it
    val feed = graft.operators.Robots.admittedNovel(spark, sfDir)
      .select(col("host_id"), col("canon_url")).distinct()
      .orderBy("host_id", "canon_url")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.CrawlStreams.fetchScheduleStream(
      input.toDF().toDF("host_id", "canon_url"), quotas, delays)
      .writeStream.toMemory("fetch_schedule_out")
      .outputMode("append").start()
    val (a, b) = feed.splitAt(feed.length / 2)
    input.addData(a); q.processAllAvailable()
    input.addData(b); q.processAllAvailable()
    val streamed = norm(spark.table("fetch_schedule_out"))
    q.stop()
    assert(streamed == batch)
    // over-quota arrivals were seen but not emitted: per host the
    // emitted slot count is exactly min(arrivals, quota)
    val qByHost = quotas.collect()
      .map(r => r.getAs[Long]("host_id") -> r.getAs[Long]("quota")).toMap
    feed.groupBy(_._1).foreach { case (h, g) =>
      assert(streamed.count(_._1 == h) ==
        math.min(g.length.toLong, qByHost(h)), s"host $h")
    }
  }

  test("streaming WARC record extraction matches the batch parser") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.nio.charset.StandardCharsets.UTF_8
    def rec(id: Long, body: String): Array[Byte] =
      graft.operators.Warc.frame(s"http://host${id % 13}.example/p$id",
        s"<urn:graft:$id>", body.getBytes(UTF_8))
    val clean = rec(1, "first doc") ++ rec(2, "second doc")
    val dirty = rec(3, "good record") ++
      "WARC/1.0\r\nContent-Length: 9999\r\n\r\noops".getBytes(UTF_8)
    val files = Seq(("f1.warc", clean), ("f2.warc", dirty))
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("path"), r.getAs[String]("record_id"),
        r.getAs[Long]("payload_bytes"), r.getAs[Long]("file_corrupt"))).toSet
    val batch = norm(graft.streaming.CrawlStreams.warcRecords(
      files.toDF("path", "content")))
    assert(batch.size == 3)
    assert(batch.filter(_._1 == "f2.warc").forall(_._4 == 1L),
      "the truncated record is counted on its file, not fatal")
    val input = MemoryStream[(String, Array[Byte])]
    val q = graft.streaming.CrawlStreams.warcRecordStream(
      input.toDF().toDF("path", "content"))
      .writeStream.toMemory("warc_records_out")
      .outputMode("append").start()
    input.addData(files.head); q.processAllAvailable()
    input.addData(files(1)); q.processAllAvailable()
    val streamed = norm(spark.table("warc_records_out"))
    q.stop()
    assert(streamed == batch)
  }
}
