package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.{Pipeline, SparkConfigs, SparkEntry, TrainingDataPipeline}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM: set up a session, run a workload's
  * iterations closed-loop from one driver thread, and write the raw
  * measurements as JSON for `run.py`, which checks outputs and reports.
  *
  * Usage: `Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <scale-factor dir> --work <work dir> --out <result.json>`;
  * `Harness --oracles <file>` dumps the oracle SQL of every query key.
  */
object Harness {

  /** Query workloads: (key, layer) pairs, in a stable order.
    * `operator_queries` is one key per operator module: the key of the
    * function a DAG calls where one does, else the module's index read.
    * Graph has none: its key, `gr_host_rank`, took 2.3 s of a 9.5 s warm
    * pass on 4 cores and does not fit the run-time budget; Graph is
    * measured through the curation DAG's `hostRank` rounds in traced runs. */
  private val queryWorkloads: Map[String, Seq[(String, String)]] = Map(
    "operator_queries" -> Seq(
      "xf_date_coercion" -> "Silver", "dq_referential" -> "DataQuality",
      "gold_daily_sales_summary" -> "Gold", "ath_daily_revenue" -> "Athena",
      "dd_exact" -> "Dedup", "dd_canonical" -> "Curation",
      "txt_quality_ensemble" -> "TextAnalysis",
      "ann_topk_ivf" -> "Similarity", "emb_kmeans" -> "Clustering",
      "mm_frame_neardup" -> "Multimodal").map { case (k, m) => k -> s"operators.$m" })
  /** Times each of the four analytics results is read per `retail_dag`
    * iteration, so a run holds enough query samples for a median. */
  private val ReadsPerIteration = 2
  /** Warm iterations a run holds at least, so `iter_s` is a median. */
  private val MinWarm = 2

  final case class Op(iter: Int, name: String, seconds: Double, error: String)
  /** `kind` is cold, warm or curation. */
  final case class Iter(index: Int, kind: String, seconds: Double,
      startMs: Long, endMs: Long, check: Seq[(String, String)])
  final case class Span(id: Int, parent: Int, trace: Int, name: String,
      start: Long, end: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("oracles") match {
      case Some(out) => writeOracles(out)
      case None => run(a)
    }
  }

  private def writeOracles(out: String): Unit = {
    val sql = SparkEntry.oracleSql
    val entries = queryWorkloads.toSeq.flatMap { case (w, keys) =>
      keys.collect { case (k, _) if sql.contains(k) =>
        Json.obj("workload" -> Json.str(w), "key" -> Json.str(k), "sql" -> Json.str(sql(k)))
      }
    }
    Files.writeString(Paths.get(out), entries.mkString("[", ",\n", "]"), UTF_8)
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkConfigs.local(SparkSession.builder(), cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val tracer = new Tracer
    if (trace) sc.addSparkListener(tracer)

    val spans = mutable.ArrayBuffer[Span]()
    val ops = mutable.ArrayBuffer[Op]()
    val iters = mutable.ArrayBuffer[Iter]()
    val stack = mutable.Stack[Int]()
    var lastSpan = 0
    var curTrace = 0
    /** Times `f` as span `name` (traced runs keep the span), tagging the
      * jobs it launches with the layer it calls into and the phase. */
    def span[T](name: String, layer: String = null, phase: String = null)(f: => T): T = {
      lastSpan += 1
      val id = lastSpan
      val parent = stack.headOption.getOrElse(0)
      val prevLayer = sc.getLocalProperty(Tracer.LayerKey)
      if (layer != null) sc.setLocalProperty(Tracer.LayerKey, layer)
      if (phase != null) sc.setLocalProperty(Tracer.PhaseKey, phase)
      stack.push(id)
      val t0 = System.nanoTime()
      try f finally {
        val t1 = System.nanoTime()
        stack.pop()
        if (layer != null) sc.setLocalProperty(Tracer.LayerKey, prevLayer)
        if (trace) spans += Span(id, parent, curTrace, name, t0, t1)
      }
    }
    def op(iter: Int, name: String, layer: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      val err = try { span(name, layer)(f); "" } catch {
        case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      ops += Op(iter, name, (System.nanoTime() - t0) / 1e9, err)
    }

    val dir = a("data")
    val rng = new scala.util.Random(seed)
    /** The curation DAG; returns the values run.py checks. */
    def curation(i: Int): Seq[(String, String)] = {
      sc.setLocalProperty(Tracer.PhaseKey, "exec")
      var r: TrainingDataPipeline.RunResult = null
      op(i, "TrainingDataPipeline.run", "TrainingDataPipeline") {
        r = TrainingDataPipeline.run(spark, dir, s"$work/curated")
      }
      if (r == null) Nil
      else Seq("manifest" -> r.manifestPath, "curation_dq_passed" -> r.dqPassed.toString,
        "stage_counts" -> r.stageCounts.map { case (n, c) => s"$n=$c" }.mkString(","))
    }
    /** One iteration: a DAG run, or one pass over the query keys. Returns
      * the values run.py checks. */
    val iteration: Int => Seq[(String, String)] = queryWorkloads.get(workload) match {
      case Some(keys) =>
        i => {
          // every pass writes each result as parquet for the oracle check
          val order = if (i == 0) keys else rng.shuffle(keys)
          order.foreach { case (key, layer) =>
            op(i, key, layer) {
              val df = span("construct", phase = "construct")(SparkEntry.queries(key)(spark, dir))
              if (trace) span("catalyst", phase = "catalyst")(df.queryExecution.executedPlan)
              span("exec", phase = "exec") {
                df.write.mode("overwrite").parquet(s"$work/check/$i/$key")
              }
            }
          }
          Seq("check_dir" -> s"$work/check/$i")
        }
      case None =>
        require(workload == "retail_dag", s"unknown workload $workload")
        i => {
          val lake = s"$work/lake$i"
          val session = spark.newSession()
          sc.setLocalProperty(Tracer.PhaseKey, "exec")
          var r: Pipeline.RunResult = null
          op(i, "Pipeline.run", "Pipeline") { r = Pipeline.run(session, dir, lake) }
          // the Athena business queries the DAG ends with, read back from
          // the lake's gold layer, in a seeded order when warm: the queries
          // of this workload. Each read is a new Dataset over the query's plan, so
          // it is planned again, as a re-issued query would be.
          val reads = if (r == null) Nil else r.analytics.toSeq.sortBy(_._1)
          val hashes = Seq.tabulate(ReadsPerIteration) { k =>
            (if (i == 0) reads else rng.shuffle(reads)).map { case (name, df) =>
              var h = ""
              op(i, s"query.$name", "operators.Athena") {
                h = rowsHash(df.select("*").collect().map(_.toString))
              }
              s"analytics.$name.$k" -> h
            }
          }.flatten
          Seq("lake" -> lake, "dq_passed" -> (r != null && r.dqPassed).toString) ++ hashes
        }
    }

    val heap = ManagementFactory.getMemoryMXBean
    var heapPeak = 0L
    def runIter(i: Int, kind: String, body: Int => Seq[(String, String)]): Unit = {
      curTrace = i
      sc.setLocalProperty(Tracer.IterKey, i.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val check = span("iteration")(body(i))
      val secs = (System.nanoTime() - t0) / 1e9
      iters += Iter(i, kind, secs, startMs, System.currentTimeMillis(), check)
      sc.setLocalProperty(Tracer.IterKey, null)
      // heap in use after a full collection: the live set this iteration
      // left. The second collection frees what the first one's weak
      // references let Spark's ContextCleaner release.
      System.gc()
      Thread.sleep(200)
      System.gc()
      heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
    }
    // iteration 0 is the cold one; warm iterations follow until `seconds`
    // of warm time have passed, at least MinWarm of them
    runIter(0, "cold", iteration)
    val warmStart = System.nanoTime()
    var i = 1
    while (i <= MinWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      runIter(i, "warm", iteration)
      i += 1
    }
    // a traced query run ends with the curation DAG over the same
    // documents, in the same session, as an iteration of its own after the
    // schedule the untraced run has: one run of it costs more than a whole
    // untraced run, so only the per-layer run pays it
    if (trace && queryWorkloads.contains(workload)) runIter(i, "curation", curation)

    val builds = iters.map(it => it.index -> tracer.artifactBuilds(it.index)).toMap
    spark.stop() // drains the listener bus before the tracer is read

    def iterJson(it: Iter): String = Json.obj(
      "index" -> it.index.toString, "kind" -> Json.str(it.kind),
      "seconds" -> it.seconds.toString, "start_ms" -> it.startMs.toString,
      "end_ms" -> it.endMs.toString,
      "check" -> Json.obj(it.check.map { case (k, v) => k -> Json.str(v) }: _*),
      "artifact_builds" -> builds(it.index)._1.toString,
      "artifact_build_s" -> builds(it.index)._2.toString)
    val jobs = tracer.jobs.toSeq.sortBy(_._1).map { case (id, j) =>
      Json.obj("id" -> id.toString, "layer" -> Json.str(j.layer),
        "phase" -> Json.str(j.phase), "iter" -> j.iter.toString,
        "start_ms" -> j.start.toString, "end_ms" -> j.end.toString)
    }
    val counters = tracer.counters.toSeq.map { case ((it, layer), m) =>
      Json.obj(("iter" -> it.toString) +: ("layer" -> Json.str(layer)) +:
        m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*)
    }
    val conf = spark.conf
    val out = Json.obj(
      "setup_s" -> setupS.toString,
      "heap_peak_mb" -> (heapPeak / 1048576.0).toString,
      "host" -> Json.obj(
        "master" -> Json.str(sc.master), "nproc" -> cores.toString,
        "effective_cores" -> effectiveCores(cores).toString,
        "shuffle_partitions" -> Json.str(conf.get("spark.sql.shuffle.partitions")),
        "aqe" -> Json.str(conf.get("spark.sql.adaptive.enabled")),
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
        "spark_version" -> Json.str(spark.version)),
      "iterations" -> iters.map(iterJson).mkString("[", ",\n", "]"),
      "ops" -> ops.map(o => Json.obj("iter" -> o.iter.toString, "name" -> Json.str(o.name),
        "seconds" -> o.seconds.toString, "error" -> Json.str(o.error))).mkString("[", ",\n", "]"),
      "jobs" -> jobs.mkString("[", ",\n", "]"),
      "counters" -> counters.mkString("[", ",\n", "]"),
      "spans" -> spans.map(s => Json.obj("id" -> s.id.toString, "parent" -> s.parent.toString,
        "trace" -> s.trace.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)).mkString("[", ",\n", "]"))
    Files.writeString(Paths.get(a("out")), out, UTF_8)
  }

  /** Order-insensitive digest of a result's rows. */
  private def rowsHash(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Cores this JVM can actually use right now: work done by `n` spinning
    * threads over 200 ms, normalized by one thread's. Nominal counts
    * overstate a shared or throttled host. */
  private def effectiveCores(n: Int): Double = {
    def spin(): Long = {
      val end = System.nanoTime() + 200000000L
      var x = 0L
      while (System.nanoTime() < end) x += 1
      x
    }
    val single = spin()
    val total = new java.util.concurrent.atomic.AtomicLong()
    val ts = (1 to n).map(_ => new Thread(() => { total.addAndGet(spin()); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    total.get.toDouble / single
  }
}

/** Just enough JSON writing for the result file. */
private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
