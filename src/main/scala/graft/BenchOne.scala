package graft
import org.apache.spark.sql.SparkSession
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkConfigs.local(SparkSession.builder(),
      SparkConfigs.cpusFromEnv(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      (1 to 2).foreach { it =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"$name iter$it: ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
