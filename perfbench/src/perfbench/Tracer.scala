package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Attributes every Spark job, stage and task of a traced run to one of
  * the program's layers, from outside the program.
  *
  * A job is mapped through its `spark.sql.execution.root.id` /
  * `spark.sql.execution.id` property to the SQL execution that launched
  * it; that execution's long-form call site (the stack above the action)
  * names the action site, e.g. `count at TrainingDataPipeline.scala:150`.
  * AQE jobs run on pooled threads whose stage names carry no call site,
  * so the execution is the only reliable link. The first program frame
  * of the stack names the layer; helper modules (ArtifactCache,
  * SkewUtils, graft.functions) defer to the frame that called them. A
  * job whose first program frame is the benchmark's own code goes to the
  * layer the benchmark was calling into, which the harness sets as the
  * `perfbench.layer` local property around each call.
  *
  * All mutation happens on the listener-bus thread; read the results
  * only after the SparkContext has stopped (which drains the bus).
  */
final class Tracer extends SparkListener {
  import Tracer._

  private final class Exec(val layer: String, val artifactBuild: Boolean,
      val start: Long) {
    var end: Long = start
    var iter: Int = -1
  }
  final class Job(val layer: String, val phase: String, val iter: Int,
      val start: Long) {
    var end: Long = start
  }

  private val execs = mutable.Map[Long, Exec]()
  val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  /** (iter, layer) → counters summed over that layer's tasks/stages. */
  val counters = mutable.Map[(Int, String), mutable.Map[String, Double]]()

  private def add(iter: Int, layer: String, name: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate((iter, layer), mutable.Map().withDefaultValue(0.0))
    m(name) += v
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      val frames = e.details.split("\n").toSeq
      // the long form starts with the Spark method, then the program frames
      execs(e.executionId) = new Exec(layerOf(frames).getOrElse(""),
        e.description.startsWith("localCheckpoint") &&
          frames.flatMap(moduleOf).headOption.contains(ArtifactCache),
        e.time)
    case e: SparkListenerSQLExecutionEnd =>
      execs.get(e.executionId).foreach(_.end = e.time)
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    val iter = prop(IterKey).flatMap(_.toIntOption).getOrElse(-1)
    val called = prop(LayerKey).getOrElse(Other)
    val viaExec = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(prop).flatMap(_.toLongOption).flatMap(execs.get)
    viaExec.foreach(x => if (x.iter < 0) x.iter = iter)
    val site = viaExec.map(_.layer).find(_.nonEmpty).orElse {
      // plain RDD jobs: the result stage (highest id) carries the call site
      j.stageInfos.sortBy(-_.stageId).headOption
        .flatMap(s => layerOf(s.details.split("\n").toSeq))
    }.getOrElse(Bench)
    val layer = if (site == Bench) called else site
    jobs(j.jobId) = new Job(layer, prop(PhaseKey).getOrElse("exec"), iter, j.time)
    j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j.jobId)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    jobs.get(j.jobId).foreach(_.end = j.time)

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    stageJob.get(s.stageInfo.stageId).flatMap(jobs.get).foreach { job =>
      add(job.iter, job.layer, "stages", 1)
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    stageJob.get(t.stageId).flatMap(jobs.get).foreach { job =>
      val (i, l) = (job.iter, job.layer)
      add(i, l, "tasks", 1)
      if (!t.reason.isInstanceOf[Success.type]) add(i, l, "failed_tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        add(i, l, "task_s", m.executorRunTime / 1e3)
        add(i, l, "gc_s", m.jvmGCTime / 1e3)
        add(i, l, "shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add(i, l, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add(i, l, "spill_mb", m.diskBytesSpilled / MB)
        add(i, l, "input_mb", m.inputMetrics.bytesRead / MB)
        add(i, l, "output_mb", m.outputMetrics.bytesWritten / MB)
        val info = t.taskInfo
        val overhead = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        add(i, l, "sched_delay_s", math.max(0L, overhead) / 1e3)
      }
    }

  /** ArtifactCache builds per iteration: (count, summed execution seconds). */
  def artifactBuilds(iter: Int): (Int, Double) = {
    val b = execs.values.filter(x => x.artifactBuild && x.iter == iter)
    (b.size, b.map(x => (x.end - x.start) / 1e3).sum)
  }
}

object Tracer {
  val IterKey = "perfbench.iter"
  val LayerKey = "perfbench.layer"
  val PhaseKey = "perfbench.phase"
  /** Layer of jobs whose action sits in the benchmark's own code. */
  val Bench = "<bench>"
  val Other = "other"
  private val MB = 1024.0 * 1024.0

  /** Program modules whose frames defer to their caller's. */
  private val ArtifactCache = "operators.ArtifactCache"
  private val helpers = Set(ArtifactCache, "operators.SkewUtils")

  /** The layers reported by name; any other program module counts as `other`. */
  val Layers: Seq[String] = Seq("sources", "sinks", "Pipeline", "TrainingDataPipeline") ++
    Seq("Silver", "DataQuality", "Gold", "Athena", "Dedup", "TextAnalysis",
      "Curation", "Graph", "Similarity", "Clustering", "Multimodal").map("operators." + _)

  /** Module of one stack frame (`graft.operators.Dedup$.exact(Dedup.scala:12)`
    * → `operators.Dedup`), or None for non-program frames. */
  def moduleOf(frame: String): Option[String] = {
    val cls = frame.trim.takeWhile(_ != '(').split('.').dropRight(1)
    cls.toList match {
      case "perfbench" :: _ => Some(Bench)
      case "graft" :: ("sources" | "sinks") :: _ => Some(cls(1))
      case "graft" :: "functions" :: _ => Some("functions")
      case "graft" :: "operators" :: obj :: _ => Some("operators." + obj.takeWhile(_ != '$'))
      case "graft" :: obj :: _ => Some(obj.takeWhile(_ != '$'))
      case _ => None
    }
  }

  /** First program frame that is not a helper module, mapped to a layer. */
  def layerOf(frames: Seq[String]): Option[String] =
    frames.flatMap(moduleOf)
      .find(m => !helpers(m) && m != "functions")
      .map(m => if (m == Bench || Layers.contains(m)) m else Other)
}
