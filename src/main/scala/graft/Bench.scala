package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  * Query keys named on the command line restrict the run to those keys
  * (an unknown key exits 2 and nothing runs); a single-query timing is
  * `SPARK_GRAFT_BENCH_ITERS=2 SPARK_GRAFT_BENCH_ISOLATE=0 Bench <key>`.
  * Queries are FULLY materialized through the noop sink (every column
  * computed and consumed by the executors) — a bare .count() would let
  * Spark prune columns and skip most of the work being measured.
  *
  * Timing protocol: `SPARK_GRAFT_BENCH_ITERS` (default 3) FULL sweeps
  * of the query set, per-query time = min across sweeps. Sweep 1 pays
  * codegen/JIT; a host-contention burst is localized in time, so it
  * lands in one sweep and the min recovers the steady state — the
  * 97→280 s recorded-total spread of round 3 came from single-sweep
  * runs with no such insurance.
  *
  * Adjudicability (round-5 verdict): same-code totals have measured
  * ~2× apart across rounds purely from host contention, making
  * round-over-round deltas unattributable. Two additions fix that in
  * the artifact itself:
  *   - per-sweep HOST TELEMETRY — /proc/loadavg before/after and the
  *     /proc/stat busy-fraction delta over the sweep, so a slow sweep
  *     on a loaded host is visibly a loaded-host sweep, the classes
  *     Spark compiled during it (`codegen_compiles`) and the Spark jobs
  *     it launched (`spark_jobs`); the host block
  *     also names the session's `master`, `cores` and
  *     `shuffle_partitions`, so runs at different core counts can be
  *     told apart from the artifact alone;
  *   - an ISOLATED re-time of the slowest queries — after the sweeps,
  *     the top-`SPARK_GRAFT_BENCH_ISOLATE` (default 25) queries by min
  *     sweep time run again back-to-back (min of 2), giving a
  *     steady-state figure comparable across rounds even when the
  *     sweeps were noisy. The recorded `isolated` value is CLAMPED to
  *     the query's sweep minimum: an isolated figure LARGER than some
  *     full-sweep observation of the same query is by construction a
  *     contention artifact, not steady state (round 10 recorded a
  *     27.4 s isolated for a query whose sweep min was 3.05 s and
  *     whose fresh-JVM re-time was 2.67 s). The raw min-of-2 is kept
  *     alongside in `isolated_raw` so the clamp is auditable.
  *
  * `rel_spread` (REDEFINED round 15) is the WARM-SWEEP WALL spread:
  * (max − min)/min over the wall clocks of sweeps 2..N. The prior
  * definition — Σ per-query max vs Σ per-query min across ALL sweeps —
  * was structurally incapable of reading clean on this suite: sweep 1
  * deliberately pays planning+JIT for every query (see above), so the
  * per-query maxes carried ~276 cold-start deltas and a FULLY IDLE
  * host (measured effective_cores 32.9/32, cpu_busy_frac 0.10) still
  * read 1.14; even warm-only per-query spread reads ~0.5 from
  * sub-second GC/AQE jitter with only two warm samples. Warm WALLS
  * isolate the thing the flag exists for — environment drift while
  * the sweeps ran: clean runs measure 0.02–0.11 (r14/r12/this round),
  * the r13b poisoned run 0.31, and the r12 throttled artifacts > 0.5.
  * The old figure is kept as `rel_spread_allruns` for cross-round
  * auditability. A `warning` field is emitted when rel_spread > 0.5 —
  * at that spread the sweep TOTALS are noise-bound and only per-query
  * minima (and the clamped isolated column) should be compared across
  * rounds. Note the throttling signature on this host: contention
  * shows as reduced DELIVERED speed (walls, effective_cores), not as
  * /proc/stat busy fraction — every artifact ever recorded reads
  * cpu_busy_frac ≈ 0.10 including the 2× ones.
  *
  * Artifacts: besides the stdout line (the driver contract), the FULL
  * result — every sweep's time per query plus variance, telemetry and
  * isolated re-times — is written to `SPARK_GRAFT_BENCH_OUT` (default
  * `bench_out/bench.json`), so a truncated stdout tail can never lose
  * the record.
  */
object Bench {

  private def readFirstLine(path: String): Option[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().nextOption() finally src.close()
    } catch { case _: Throwable => None }

  /** 1-minute load average — the host-wide run-queue pressure. */
  private def loadAvg: Double =
    readFirstLine("/proc/loadavg").map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** Effective cores actually deliverable to this JVM right now: total
    * work done by `availableProcessors` spin threads over ~300 ms,
    * normalized by one calibrated single-thread slice. Nominal CPU
    * count lies on shared/throttled hosts (round 12 measured ~20/32,
    * with the sweep sustaining ~3) — this probe puts the truth in the
    * artifact so a uniform cross-round slowdown is attributable to the
    * HOST without forensic replays. */
  private def effectiveCores(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    def spin(ms: Long): Long = {
      val end = System.nanoTime() + ms * 1000000L
      var x = 0L
      while (System.nanoTime() < end) x += 1
      x
    }
    val single = spin(300)
    if (single <= 0) return -1.0
    val counts = new java.util.concurrent.atomic.AtomicLong()
    val threads = (1 to n).map { _ =>
      val t = new Thread(() => { counts.addAndGet(spin(300)); () })
      t.setDaemon(true); t
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    counts.get().toDouble / single.toDouble
  }

  /** (busy, total) jiffies from /proc/stat's aggregate cpu line. */
  private def cpuJiffies: (Long, Long) =
    readFirstLine("/proc/stat") match {
      case Some(l) if l.startsWith("cpu ") =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal ...
        val idle = f(3) + (if (f.length > 4) f(4) else 0L)
        (f.sum - idle, f.sum)
      case _ => (-1L, -1L)
    }

  /** Counts the Spark jobs started in the session's context. Listener
    * events arrive asynchronously, so [[drain]] first runs a marker
    * job and waits (up to a minute) until the listener has seen it
    * start: the bus delivers events in order, so by then every job
    * started before the marker is counted. Markers are not counted. */
  private[graft] final class JobCounter(spark: SparkSession) extends SparkListener {
    private val MarkerProp = "graft.bench.marker"
    private val jobs = new AtomicLong()
    private val markersSeen = new AtomicLong()
    private var markersRun = 0L
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(MarkerProp) != null)
        markersSeen.incrementAndGet()
      else jobs.incrementAndGet()

    /** Jobs started since the previous drain (or since creation). */
    def drain(): Long = {
      val sc = spark.sparkContext
      sc.setLocalProperty(MarkerProp, "1")
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(MarkerProp, null)
      markersRun += 1
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (markersSeen.get() < markersRun && System.nanoTime() < deadline)
        Thread.sleep(1)
      jobs.getAndSet(0)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(SparkEntry.queries.contains).distinct.sorted
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown query keys: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val names =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq.distinct.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default 3 sweeps (min-of-sweeps absorbs JIT + contention bursts);
    // an EXPLICIT value is honored as given — iters=1 is a deliberate
    // cold-start measurement, not a mistake to clamp away
    val iters = sys.env.get("SPARK_GRAFT_BENCH_ITERS")
      .map(v => math.max(1, v.toInt)).getOrElse(3)
    val isolateN = sys.env.get("SPARK_GRAFT_BENCH_ISOLATE")
      .map(_.toInt).getOrElse(25)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out/bench.json")
    val cores = SparkConfigs.cpusFromEnv(32)
    val spark = SparkConfigs.local(SparkSession.builder(), cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JIT the scan/aggregate/noop paths so the first timed query
    // doesn't absorb compilation cost
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val failed = scala.collection.mutable.Set[String]()
    def runOnce(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
      }
      (System.nanoTime() - t0) / 1e9
    }

    // classes Spark compiled (codegen cache misses); a warm sweep that
    // still compiles means the cache is smaller than the working set
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // jobs each sweep launched, drained outside the sweep's wall
    val jobCounter = new JobCounter(spark)
    jobCounter.drain()
    val sweepTelemetry = (1 to iters).map { _ =>
      val (b0, t0j) = cpuJiffies
      val l0 = loadAvg
      val c0 = compiles
      val w0 = System.nanoTime()
      names.foreach(n => times(n) = times(n) :+ runOnce(n))
      val (b1, t1j) = cpuJiffies
      val l1 = loadAvg
      val wall = (System.nanoTime() - w0) / 1e9
      val busyFrac =
        if (t1j > t0j) (b1 - b0).toDouble / (t1j - t0j).toDouble else -1.0
      val compiled = compiles - c0
      (wall, l0, l1, busyFrac, compiled, jobCounter.drain())
    }

    // isolated steady-state re-times of the slowest queries: min of 2
    // back-to-back runs each, AFTER all sweeps (fully warmed)
    val mins = names.map(n => n -> times(n).min)
    val minByName = mins.toMap
    val isolatedRaw = mins.sortBy(-_._2).take(math.max(0, isolateN)).map {
      case (n, _) => n -> math.min(runOnce(n), runOnce(n))
    }
    // Steady-state record: a re-time can only be slower than the sweep
    // min through contention during the isolation phase, so the sweep
    // min is an upper bound on the steady state and we clamp to it.
    val isolated = isolatedRaw.map { case (n, v) => n -> math.min(v, minByName(n)) }

    def obj(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = mins.map(_._2).sum
    val sumMax = names.map(times(_).max).sum
    // legacy all-runs figure (includes sweep 1's deliberate cold costs)
    val relSpreadAll = if (total > 0) (sumMax - total) / total else 0.0
    // the contention flag proper: warm-sweep WALL spread (see header)
    val walls = sweepTelemetry.map(_._1)
    val warmWalls = if (walls.length > 1) walls.tail else walls
    val relSpread =
      if (warmWalls.nonEmpty && warmWalls.min > 0)
        (warmWalls.max - warmWalls.min) / warmWalls.min
      else 0.0
    val qs = obj(mins.map { case (k, v) => k -> v.toString })
    val runs = obj(names.map(n => n -> times(n).mkString("[", ",", "]")))
    val iso = obj(isolated.map { case (k, v) => k -> v.toString })
    val isoRaw = obj(isolatedRaw.map { case (k, v) => k -> v.toString })
    val warning =
      if (relSpread > 0.5)
        "\"rel_spread %.2f > 0.5: sweep totals are contention-bound; compare per-query minima and the clamped isolated column only\""
          .formatLocal(java.util.Locale.ROOT, relSpread)
      else "null"
    val errs = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val variance = obj(Seq(
      "iters" -> iters.toString, "sum_min" -> total.toString,
      "sum_max" -> sumMax.toString, "rel_spread" -> relSpread.toString,
      "rel_spread_allruns" -> relSpreadAll.toString))
    val host = obj(Seq(
      "cpus" -> Runtime.getRuntime.availableProcessors().toString,
      "master" -> ("\"" + spark.sparkContext.master + "\""),
      "cores" -> cores.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "effective_cores" -> effectiveCores().toString,
      "sweep_wall_sec" -> sweepTelemetry.map(_._1).mkString("[", ",", "]"),
      "loadavg_pre" -> sweepTelemetry.map(_._2).mkString("[", ",", "]"),
      "loadavg_post" -> sweepTelemetry.map(_._3).mkString("[", ",", "]"),
      "cpu_busy_frac" -> sweepTelemetry.map(_._4).mkString("[", ",", "]"),
      "codegen_compiles" -> sweepTelemetry.map(_._5).mkString("[", ",", "]"),
      "spark_jobs" -> sweepTelemetry.map(_._6).mkString("[", ",", "]")))
    // cold-derivation visibility (r15 VERDICT #2): ArtifactCache-backed
    // queries pay the corpus-sized first derivation ONCE per JVM (the
    // train-once contract), so their per-query minima above are
    // warm-path numbers; this map records each artifact's first-build
    // wall seconds so the two effects are separable in the artifact.
    // Observability only — the timing loop is untouched (the build time
    // is already inside whichever sweep-1 query triggered it).
    val artifactBuild = obj(
      graft.operators.ArtifactCache.buildSeconds.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.toString })

    val full = obj(Seq(
      "metric" -> "\"total\"", "value" -> total.toString, "unit" -> "\"sec\"",
      "queries" -> qs, "runs" -> runs, "isolated" -> iso,
      "isolated_raw" -> isoRaw, "warning" -> warning, "variance" -> variance,
      "host" -> host, "artifact_build_sec" -> artifactBuild,
      "errors" -> errs, "sf" -> ("\"" + sfDir + "\"")))
    val out = java.nio.file.Paths.get(outPath)
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(out, full)

    // the driver-scraped line: min-of-sweeps per query + isolated
    // re-times + variance + host telemetry (not the per-sweep lists —
    // keep the line compact)
    println(obj(Seq(
      "metric" -> "\"total\"", "value" -> total.toString, "unit" -> "\"sec\"",
      "queries" -> qs, "isolated" -> iso, "isolated_raw" -> isoRaw,
      "warning" -> warning, "variance" -> variance,
      "host" -> host, "artifact_build_sec" -> artifactBuild, "errors" -> errs,
      "sf" -> ("\"" + sfDir + "\""), "artifact" -> ("\"" + outPath + "\""))))
    spark.stop()
  }
}
