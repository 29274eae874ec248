package graft

import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._
import graft.operators.{ArtifactCache, Gold, Similarity}

class PipelineRunSpec extends SparkSpec {

  /** (rows, order-insensitive content hash) of a table. */
  private def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col).toSeq
    val h = df.select(sha2(to_json(struct(cols: _*)), 256).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)")))
      .head().getDecimal(0).toString
    (df.count(), h)
  }

  /** [[contentHash]] of each gold table, read with an inferred schema. */
  private def goldHashes(r: Pipeline.RunResult): Map[String, (Long, String)] =
    r.goldTables.map { case (name, path) => name -> contentHash(spark.read.parquet(path)) }

  /** Each job's value of the local property `key` and its end time, as a
    * listener sees them. */
  private final class JobLog(key: String) extends SparkListener {
    final class Job(val tag: String) { @volatile var end = Long.MaxValue }
    private val jobs = TrieMap[Int, Job]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs(j.jobId) = new Job(Option(j.properties).map(_.getProperty(key)).orNull)
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobs.get(j.jobId).foreach(_.end = j.time)

    /** The jobs seen since the last call. Runs a marker job first and
      * waits until its end arrives: the bus delivers a listener's events
      * in order, so every job event posted before it has arrived too. */
    def drain(): Seq[Job] = {
      val sc = spark.sparkContext
      val saved = sc.getLocalProperty(key)
      sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, saved)
      eventually(timeout(30.seconds)) {
        assert(jobs.values.exists(j => j.tag == "marker" && j.end < Long.MaxValue))
      }
      val seen = jobs.values.filter(_.tag != "marker").toSeq
      jobs.clear()
      seen
    }
  }

  private def pipelineThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-pipeline-") && t.isAlive).toSet

  test("full medallion run: bronze CSV -> silver -> DQ -> gold -> analytics") {
    val lake = Files.createTempDirectory("graft_lake").toString
    val result = Pipeline.run(spark, sfDir, lake)

    assert(result.dqPassed, "silver DQ gate must pass on clean testdata")
    assert(result.silverTables.keySet ==
      Set("sales", "customers", "products", "stores"))
    assert(result.goldTables.keySet == Set("daily_sales_summary",
      "top_customers", "product_performance", "store_performance"))

    // gold written through the lake equals gold computed directly —
    // the CSV bronze hop and silver clean must be lossless
    val viaLake = spark.read.parquet(result.goldTables("daily_sales_summary"))
      .agg(sum("revenue"), sum("total_orders")).head
    val direct = Gold.dailySalesSummary(spark, sfDir)
      .agg(sum("revenue"), sum("total_orders")).head
    assert(math.abs(viaLake.getDouble(0) - direct.getDouble(0)) < 1e-6)
    assert(viaLake.getLong(1) == direct.getLong(1))

    // analytics run over the registered gold tables and return rows
    result.analytics.foreach { case (name, df) =>
      assert(df.count() > 0, name)
    }
    // partitioned silver layout on disk (hive-style load_date dirs)
    assert(new java.io.File(s"${result.silverTables("sales")}/load_date=d20260101")
      .exists())
  }

  test("catalog views read gold with its written schema: same schema and rows as an inferred read") {
    // run reads silver and gold back with the schema it just wrote
    // instead of inferring it from a footer (one Spark job per read)
    val r = Pipeline.run(spark, sfDir, Files.createTempDirectory("graft_lake_typed").toString)
    val inferred = goldHashes(r)
    r.goldTables.foreach { case (name, path) =>
      assert(spark.table(name).schema == spark.read.parquet(path).schema, name)
      assert(contentHash(spark.table(name)) == inferred(name), name)
    }
  }

  test("re-run into the same lake is idempotent (daily @retries contract)") {
    // the reference DAG re-runs (@daily, retries: 1, catchup=False):
    // a second run over the same input into the same lakeBase must
    // leave byte-identical gold content, not append or drift
    val lake = Files.createTempDirectory("graft_lake2").toString
    val first = goldHashes(Pipeline.run(spark, sfDir, lake))
    def catalogState(): Map[String, Long] =
      Seq("daily_sales_summary", "top_customers", "product_performance",
        "store_performance").map(n => n -> spark.table(n).count()).toMap
    val firstCat = catalogState()
    val second = goldHashes(Pipeline.run(spark, sfDir, lake))
    assert(second == first, "second run changed gold content")
    assert(catalogState() == firstCat, "second run changed catalog state")
  }

  test("a failed table chain: its own exception, every task joined, a clean rerun") {
    // the stores chain fails at its extract (no supplier table) while the
    // other three chains are writing bronze and silver
    val partial = Files.createTempDirectory("graft_src_partial")
    Files.list(Paths.get(sfDir)).iterator.asScala
      .filter(_.getFileName.toString != "supplier.parquet")
      .foreach(f => Files.createSymbolicLink(partial.resolve(f.getFileName), f))
    val lake = Files.createTempDirectory("graft_lake_fail").toString
    val log = new JobLog("graft.test.run")
    spark.sparkContext.addSparkListener(log)
    try {
      log.drain()
      val e = intercept[AnalysisException](Pipeline.run(spark, partial.toString, lake))
      val returned = System.currentTimeMillis()
      assert(e.getMessage.contains("supplier.parquet"), e.getMessage)
      assert(pipelineThreads().isEmpty, "a pool thread outlived the run")
      val jobs = log.drain()
      assert(jobs.nonEmpty && jobs.forall(_.end <= returned),
        "a job of the failed run was still running when it returned")
      eventually(timeout(10.seconds)) {
        assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      }
    } finally spark.sparkContext.removeSparkListener(log)
    // the retry into the half-written lake lands what a fresh lake gets
    val rerun = goldHashes(Pipeline.run(spark, sfDir, lake))
    val fresh = goldHashes(Pipeline.run(spark, sfDir,
      Files.createTempDirectory("graft_lake_fresh").toString))
    assert(rerun == fresh)
  }

  test("every job of a run carries the caller's local properties, fresh each run") {
    // perfbench attributes jobs by the local properties of the thread that
    // calls run; a pool that outlived a run would tag the next run's jobs
    // with the values its threads were created under
    val key = "graft.test.run"
    val log = new JobLog(key)
    val sc = spark.sparkContext
    sc.addSparkListener(log)
    try {
      log.drain()
      def tagsOfRun(tag: String): Set[String] = {
        sc.setLocalProperty(key, tag)
        try Pipeline.run(spark, sfDir, Files.createTempDirectory("graft_lake_tag").toString)
        finally sc.setLocalProperty(key, null)
        log.drain().map(_.tag).toSet
      }
      assert(tagsOfRun("first") == Set("first"))
      assert(tagsOfRun("second") == Set("second"))
    } finally sc.removeSparkListener(log)
  }

  test("every job of a PQ training carries the caller's local properties, fresh each training") {
    // the same one-pool-per-run rule as Pipeline.run: the 16 subspace
    // fits run on a pool of the training's own, so a retrain after an
    // invalidation tags its jobs with the caller's current values
    val dir = Files.createTempDirectory("graft_pq_tags")
    Files.createSymbolicLink(dir.resolve("embeddings.parquet"),
      Paths.get(sfDir, "embeddings.parquet"))
    val key = "graft.test.pq"
    val log = new JobLog(key)
    val sc = spark.sparkContext
    sc.addSparkListener(log)
    try {
      log.drain()
      def train(tag: String): (Set[String], Seq[Seq[Seq[Double]]]) = {
        sc.setLocalProperty(key, tag)
        val books = try Similarity.pqCodebooks(spark, dir.toString)
          finally sc.setLocalProperty(key, null)
        (log.drain().map(_.tag).toSet, books)
      }
      val (first, books1) = train("first")
      ArtifactCache.invalidateDir(spark, dir.toString)
      val (second, books2) = train("second")
      assert(first == Set("first") && second == Set("second"))
      assert(books1 == books2 && books1.size == Similarity.PqSubspaces)
      assert(Thread.getAllStackTraces.keySet.asScala
        .forall(t => !(t.getName.startsWith("graft-pq-") && t.isAlive)),
        "a PQ training thread outlived its training")
    } finally sc.removeSparkListener(log)
  }

  test("scheduling calendar: @daily processes yesterday only, catchup=False never backfills") {
    val lake = java.nio.file.Files.createTempDirectory("graft_lake_cal").toString
    val d0 = java.time.LocalDate.of(2026, 1, 2)
    // fresh lake: the manifest is exactly yesterday, not yet loaded
    val m0 = Pipeline.runManifest(spark, lake, d0)
    assert(m0 == Seq(Pipeline.ManifestEntry("d20260101", alreadyLoaded = false)))
    val r0 = Pipeline.runScheduled(spark, sfDir, lake, d0)
    assert(r0.map(_._1) == m0 && r0.head._2.dqPassed)
    assert(Pipeline.loadedDates(spark, lake) == Set("d20260101"))
    // scheduler down for 3 days, back on Jan 6: the manifest is ONLY
    // Jan 5 — the missed Jan 2/3/4 intervals are never backfilled
    val m1 = Pipeline.runManifest(spark, lake, d0.plusDays(4))
    assert(m1 == Seq(Pipeline.ManifestEntry("d20260105", alreadyLoaded = false)))
    Pipeline.runScheduled(spark, sfDir, lake, d0.plusDays(4))
    assert(Pipeline.loadedDates(spark, lake) == Set("d20260101", "d20260105"),
      "no backfill dates appeared")
    // the same tick re-fired: the manifest flags the rerun, and the
    // re-run leaves the loaded-date state unchanged (idempotence)
    val m2 = Pipeline.runManifest(spark, lake, d0.plusDays(4))
    assert(m2 == Seq(Pipeline.ManifestEntry("d20260105", alreadyLoaded = true)))
    Pipeline.runScheduled(spark, sfDir, lake, d0.plusDays(4))
    assert(Pipeline.loadedDates(spark, lake) == Set("d20260101", "d20260105"))
  }

  test("retry policy: transient failure recovers, exhaustion rethrows") {
    // the DAG's retries:1 + retry_delay contract — a task that fails
    // once succeeds on the retry, with the delay honored between
    var slept = List.empty[Long]
    var calls = 0
    val out = Pipeline.withRetries(retries = 1, retryDelayMs = 300000L,
      sleep = ms => slept ::= ms) { attempt =>
      calls += 1
      if (attempt == 0) sys.error("transient extract failure")
      "ok"
    }
    assert(out == "ok" && calls == 2 && slept == List(300000L))
    // retries exhausted: the LAST failure surfaces
    val e = intercept[RuntimeException] {
      Pipeline.withRetries(retries = 1, sleep = _ => ()) { attempt =>
        sys.error(s"persistent failure $attempt")
      }
    }
    assert(e.getMessage == "persistent failure 1")
    // retries < 0 is a caller bug: fail loudly up front, never an
    // opaque NPE from `throw last` with no attempt ever run
    val bad = intercept[IllegalArgumentException] {
      Pipeline.withRetries(retries = -1, sleep = _ => ())(_ => "never")
    }
    assert(bad.getMessage.contains("retries must be >= 0"))
    // a retried RUN still lands the idempotent result (attempt 0 dies
    // mid-flight AFTER writing bronze — the rerun must recover cleanly)
    val lake = java.nio.file.Files.createTempDirectory("graft_lake3").toString
    var attempts = 0
    val r = Pipeline.withRetries(retries = 1, sleep = _ => ()) { attempt =>
      attempts += 1
      if (attempt == 0) {
        // simulate dying between bronze and silver: partial lake state
        graft.sources.CsvSource.write(
          graft.sources.Tables.stores(spark, sfDir),
          graft.sinks.ParquetSink.layerPath(lake, "bronze", "stores"))
        sys.error("executor lost")
      }
      Pipeline.run(spark, sfDir, lake)
    }
    assert(attempts == 2 && r.dqPassed)
    assert(r.goldTables.keySet.size == 4)
  }
}
