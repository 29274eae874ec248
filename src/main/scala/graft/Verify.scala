package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these query keys (local iteration;
    // the driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val defs =
      if (only.isEmpty) SparkEntry.defs else SparkEntry.defs.filter(d => only(d.key))
    val unknown = only -- defs.map(_.key)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query keys: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    // same session profile as Bench (incl. AQE) so the verified plans
    // are the benched plans
    val spark = SparkConfigs.local(SparkSession.builder(),
      SparkConfigs.cpusFromEnv(4)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    defs.foreach { d =>
      try d.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${d.key}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.key} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = defs.flatMap(d => d.oracle.map(v => s"${q(d.key)}: ${q(v)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
