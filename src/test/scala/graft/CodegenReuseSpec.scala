package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code compiles once per JVM under the `SparkConfigs.local`
  * profile. Spark keys its codegen cache by (class loader, code): with
  * artifact isolation on, every session runs its tasks under a class
  * loader of its own and recompiles every class it has; with the
  * default 100-entry cache, a working set of more than 100 classes
  * evicts itself. Without either setting a warm run of the tests
  * below recompiles 80 to 140 classes. The counter is Spark's own
  * count of compilations (codegen cache misses).
  *
  * A warm run may still compile a few classes the JVM has not seen:
  * AQE numbers the codegen stages of a plan as its query stages
  * complete, so concurrent stages finishing in a new order give a
  * byte-different class. Hence a bound, not zero. */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Asserts that a warm `f` compiles at most `MaxNew` classes. */
  private val MaxNew = 10
  private def assertWarmReuse(f: => Unit): Unit = {
    f
    val before = compiles
    f
    val n = compiles - before
    assert(n <= MaxNew, s"a warm run compiled $n classes")
  }

  test("a second Pipeline.run in a new session reuses the compiled classes") {
    // the perfbench retail_dag iteration: a fresh session, a fresh lake,
    // then one read of each of the four Athena analytics
    def run(): Unit = {
      val lake = Files.createTempDirectory("graft_lake_codegen").toString
      Pipeline.run(spark.newSession(), sfDir, lake)
        .analytics.toSeq.sortBy(_._1).foreach { case (_, df) => df.collect() }
    }
    assertWarmReuse(run())
  }

  test("a second pass over the perfbench operator_queries keys reuses the compiled classes") {
    // one key per operator module but Graph
    val keys = Seq("xf_date_coercion", "dq_referential", "gold_daily_sales_summary",
      "ath_daily_revenue", "dd_exact", "dd_canonical", "txt_quality_ensemble",
      "ann_topk_ivf", "emb_kmeans", "mm_frame_neardup")
    def pass(): Unit = keys.foreach { k =>
      SparkEntry.queries(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    assertWarmReuse(pass())
  }
}
