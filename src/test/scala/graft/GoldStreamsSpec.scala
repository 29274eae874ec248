package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.operators.Gold
import graft.sources.Tables
import graft.streaming.GoldStreams

class GoldStreamsSpec extends SparkSpec {
  override lazy val spark: SparkSession = SparkSpec.streamingSession

  test("incrementally maintained gold table equals the batch recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_gold_stream").toString

    val sales = Tables.sales(spark, sfDir)
      .select(col("transaction_id"), col("quantity"), col("unit_price"),
        col("sale_ts").cast("timestamp").as("sale_ts"))
      .as[(Long, Long, Double, java.sql.Timestamp)]
      .collect()
      .sortBy(_._4.getTime)

    val input = MemoryStream[(Long, Long, Double, java.sql.Timestamp)]
    val streamDf = input.toDF()
      .toDF("transaction_id", "quantity", "unit_price", "sale_ts")
    val q = GoldStreams.maintainDailySummary(
      GoldStreams.dailySalesSummaryStream(streamDf),
      s"$base/gold", s"$base/chk")

    // two event-time-ordered chunks: the second updates days the first
    // already wrote plus appends new days
    val (first, second) = sales.splitAt(sales.length / 2)
    input.addData(first.toSeq)
    q.processAllAvailable()
    input.addData(second.toSeq)
    q.processAllAvailable()
    q.stop()

    val maintained = spark.read.parquet(s"$base/gold")
      .select(col("sale_date").cast("string"), col("total_orders"),
        col("total_items"), col("revenue"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = Gold.dailySalesSummary(spark, sfDir)
      .select(col("sale_date").cast("string"), col("total_orders"),
        col("total_items"), col("revenue"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(maintained == batch)
  }
}
