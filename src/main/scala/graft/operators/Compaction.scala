package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Small-file compaction planning — the lake-maintenance pass (Delta
  * OPTIMIZE / Iceberg rewrite_data_files analog) that bins a
  * partition's undersized files into target-size output groups so a
  * 100 TB table doesn't degenerate into millions of kilobyte files.
  *
  * The planner operates on file METADATA (partition, file, bytes) —
  * at any table scale that listing is millions of rows, not data — and
  * assigns each file to `out_group = floor(bytes-before-it / target)`
  * within its partition: consecutive files pack greedily, the group
  * count per partition is ≤ ⌈total bytes / target⌉ (so output files
  * AVERAGE ≥ target size — the small-file count provably shrinks), and
  * the assignment is a single per-partition window cum-sum in pure
  * integer arithmetic (no state machine, no driver loop). Rewriting is
  * then one `repartition(part, out_group)` write per partition,
  * embarrassingly parallel.
  */
object Compaction {

  /** Output-group target size for the contract query. Real deployments
    * pass their own (typically 128 MB–1 GB). */
  val TargetBytes = 16384L

  /** Assign every file to its output group. `files` must carry
    * (`part`, `file_id`, `bytes`); files pack in `file_id` order within
    * a partition. The window partitions on `part` — parallel across
    * partitions, and a partition's file count is bounded (that is the
    * problem being fixed), so no global sort, no skew. */
  def compactionPlan(files: DataFrame, targetBytes: Long): DataFrame = {
    val before = sum(col("bytes")).over(
      Window.partitionBy("part").orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1))
    files
      .withColumn("_before", coalesce(before, lit(0L)))
      // DIV: exact integer division (Column./ on longs is true division
      // through doubles)
      .select(col("part"), col("file_id"), col("bytes"),
        expr(s"CAST(_before DIV $targetBytes AS INT)").as("out_group"))
  }

  /** `lake_compaction`: the contract surface — a deterministic file
    * inventory derived from `events` (one "file" per (event_date,
    * user_id-bucket), sized by its payload bytes) run through
    * [[compactionPlan]]. */
  def lakeCompaction(spark: SparkSession, dir: String): DataFrame = {
    val inventory = Tables.events(spark, dir)
      .groupBy(col("ts").cast("date").as("part"),
        (col("user_id") % 64).as("file_id"))
      .agg((lit(64L) * count(lit(1)) +
        sum(coalesce(length(col("props")), lit(0)).cast("long"))).as("bytes"))
    compactionPlan(inventory, TargetBytes)
      .orderBy("part", "file_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("lake_compaction", lakeCompaction,
      s"""WITH f AS (
         |  SELECT CAST(ts AS DATE) AS part, user_id % 64 AS file_id,
         |         CAST(64*COUNT(*) + SUM(COALESCE(length(props),0)) AS BIGINT)
         |           AS bytes
         |  FROM events GROUP BY 1, 2)
         |SELECT part, file_id, bytes,
         |       CAST(COALESCE(SUM(bytes) OVER (PARTITION BY part
         |              ORDER BY file_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |            // $TargetBytes AS INT) AS out_group
         |FROM f ORDER BY part, file_id""".stripMargin))
}
