package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.sinks.CatalogRegistry
import graft.sources.Tables
import graft.streaming.EventStreams

class StreamingSinkSpec extends SparkSpec {
  override lazy val spark: SparkSession = SparkSpec.streamingSession

  test("file source -> windowed agg -> checkpointed parquet sink, end to end") {
    val base = Files.createTempDirectory("graft_stream").toString
    val inDir = s"$base/in"
    // stage the events as an input directory the stream watches
    val ev = Tables.events(spark, sfDir)
      .select(col("ts").cast("timestamp").as("ts"), col("event_type"), col("value"))
    ev.write.mode("overwrite").parquet(inDir)

    val stream = EventStreams.fileSource(spark, inDir, ev.schema)
    val q = EventStreams.parquetSink(
      EventStreams.windowedAgg(stream),
      s"$base/out", s"$base/chk")
    q.processAllAvailable()
    q.stop()

    // append mode only emits watermark-closed windows; all but the final
    // 10 minutes of event time must be present
    val out = spark.read.parquet(s"$base/out")
    assert(out.columns.toSeq ==
      Seq("window_start", "event_type", "n_events", "sum_value"))
    assert(out.count() > 0)
    val batch = graft.operators.Events.windowedAgg(spark, sfDir).count()
    assert(out.count() <= batch)
  }

  test("streaming WARC landing sink: per-record batch parity, batch-indexed " +
      "files, planted corruption loses only itself") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import java.nio.charset.StandardCharsets.UTF_8
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_warc_stream").toString
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val (b0, b1) = docs.splitAt(docs.length / 2)
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.CrawlStreams.warcLandingSink(
      input.toDF().toDF("doc_id", "text"), s"$base/out", s"$base/chk")
    input.addData(b0); q.processAllAvailable()
    input.addData(b1); q.processAllAvailable()
    q.stop()
    // per-record parity with the batch writer through the production
    // reader: every source doc comes back octet-exact, once
    val landed = graft.operators.Warc.readWarcDir(spark, s"$base/out")
      .where(col("record_id").startsWith("<urn:graft:"))
      .collect()
    assert(landed.length == docs.length)
    val byId = landed.map { r =>
      val id = r.getAs[String]("record_id")
        .stripPrefix("<urn:graft:").stripSuffix(">").toLong
      id -> (new String(r.getAs[Array[Byte]]("payload"), UTF_8),
        r.getAs[String]("target_uri"), r.getAs[String]("path"))
    }.toMap
    assert(byId.size == docs.length)
    docs.foreach { case (id, text) =>
      val (payload, uri, path) = byId(id)
      assert(payload == text, s"doc $id payload drifted")
      assert(uri == s"http://host${id % graft.operators.Url.HostMod}.example/p$id")
      // batch-indexed file naming: batch 0 holds the first half
      val batch = if (b0.exists(_._1 == id)) 0 else 1
      assert(path.contains(f"part-$batch%05d-"), s"doc $id in $path")
    }
    // planted corruption: a truncated landed container loses only its
    // own records on re-read (the tolerant-parse contract). Staged in
    // a FRESH directory: the session-wide file-status cache pins the
    // first-listing size per path, so an in-place rewrite under the
    // original path reads past EOF instead of seeing the short file.
    val files = new java.io.File(s"$base/out").listFiles()
      .filter(_.getName.endsWith(".warc")).sortBy(_.getName)
    val victim = files.head
    val lost = landed.count(_.getAs[String]("path").endsWith(victim.getName))
    val out2 = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/out2"))
    files.foreach(f => java.nio.file.Files.copy(f.toPath,
      out2.resolve(f.getName)))
    java.nio.file.Files.write(out2.resolve(victim.getName),
      "WARC/1.0\r\nContent-Length: 99999\r\n\r\nshort".getBytes(UTF_8))
    val after = graft.operators.Warc.readWarcDir(spark, s"$base/out2")
      .where(col("record_id").startsWith("<urn:graft:")).count()
    assert(after == docs.length - lost && lost > 0)
  }

  test("streaming dedup drops replayed events within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val ckpt = Files.createTempDirectory("graft_dedup_ckpt")
    val q = EventStreams.dedupStream(
      input.toDF().toDF("ts", "event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val out = try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:05")
      input.addData(Seq((t0, 1L), (t0, 2L), (t0, 1L))) // replay of id 1
      q.processAllAvailable()
      input.addData(Seq((t1, 2L), (t0, 3L)))           // replay of id 2, re-stamped ts
      q.processAllAvailable()
      spark.table("dedup_out").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
    } finally {
      q.stop()
      val walk = Files.walk(ckpt)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
    assert(out == Seq(1L, 2L, 3L))
  }

  test("partition pruning reaches the scan when filtering silver by load_date") {
    // the silver write as production runs it: with AQE on, so the
    // write's REBALANCE hint applies (the streaming session drops it)
    val spark = SparkSpec.session
    val base = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = Tables.table(spark, sfDir, "nation")
    graft.sinks.ParquetSink.writePartitioned(
      df.withColumn("load_date", lit("d1")).unionAll(
        df.withColumn("load_date", lit("d2"))),
      base, Seq("load_date"))
    val pruned = spark.read.parquet(base).where(col("load_date") === "d1")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(load_date"), plan.take(600))
    assert(pruned.count() == 25)
  }

  test("saveAsTable registers a queryable managed table") {
    val df = Tables.table(spark, sfDir, "nation")
    CatalogRegistry.saveAsTable(df, "graft_nation_copy")
    assert(spark.table("graft_nation_copy").count() == 25)
    spark.sql("DROP TABLE graft_nation_copy")
  }
}
