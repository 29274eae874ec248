package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Backward as-of join — for each left row, the latest right value with
  * right.ts ≤ left.ts on the same key. Spark has no native ASOF
  * operator; rather than a custom SparkPlan, this composes as the
  * classic union+window: tag both sides, sort by (ts, side, value)
  * within key partitions, and carry the last non-null right value
  * forward. ONE shuffle (the window partitioning), no join explosion,
  * no per-key subqueries — the shape that survives 100 TB.
  */
object AsOfJoin {

  /** The tagged union every direction scans: left rows carry `_src` = 1
    * and a null `_rv`, right rows `_src` = 0 and their value (cast to
    * `rightVal`'s type), both with their timestamp as `_ts`. `frames`
    * adds the as-of columns over it, each a window partitioned by `key`;
    * the left rows are then returned with the tags dropped. */
  private def tagged(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightVal: String)(
      frames: DataFrame => DataFrame): DataFrame = {
    val valType = right.schema(rightVal).dataType
    val l = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_src", lit(1))
      .withColumn("_rv", lit(null).cast(valType))
    val r = right.select(
      col(key), col(rightTs).as("_ts"), lit(0).as("_src"),
      col(rightVal).cast(valType).as("_rv"))
    frames(l.unionByName(r, allowMissingColumns = true))
      .where(col("_src") === 1)
      .drop("_ts", "_src", "_rv")
  }

  /** left keeps all its columns plus `asOfCol` = latest `rightVal`
    * whose `rightTs` ≤ `leftTs` for the same `key` (null if none).
    * Ties on (key, ts) resolve to the greatest `rightVal` — total
    * ordering keeps the result deterministic. */
  def backward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightVal: String,
      asOfCol: String): DataFrame =
    tagged(left, right, key, leftTs, rightTs, rightVal)(_.withColumn(asOfCol,
      last(col("_rv"), ignoreNulls = true).over(Window.partitionBy(key)
        .orderBy(col("_ts"), col("_src"), col("_rv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))

  /** Forward as-of: for each left row, the EARLIEST right value with
    * right.ts ≥ left.ts on the same key — the "next scheduled event"
    * direction. Same union+window shape scanned in descending time
    * order: at any left row, the last right value seen is the nearest
    * one at-or-after it (right sorts before left on ties, so ≥ is
    * inclusive; ties among right rows resolve to the smallest value).
    * Still ONE shuffle, no join explosion. */
  def forward(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightVal: String,
      asOfCol: String): DataFrame =
    tagged(left, right, key, leftTs, rightTs, rightVal)(_.withColumn(asOfCol,
      last(col("_rv"), ignoreNulls = true).over(Window.partitionBy(key)
        .orderBy(col("_ts").desc, col("_src"), col("_rv").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))

  /** Contract query: each event matched to that user's NEXT order on or
    * after the event time (forward as-of). */
  def eventAsOfNextOrder(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.table(spark, dir, "orders")
      .select(col("o_custkey").as("user_id"), col("o_orderdate"))
    forward(events, orders, key = "user_id",
      leftTs = "ts", rightTs = "o_orderdate", rightVal = "o_orderdate",
      asOfCol = "next_order_date")
      .select(col("event_id"), col("user_id"), col("next_order_date"))
      .orderBy("event_id")
  }

  /** Contract query: each event matched to that user's most recent
    * order on or before the event time. */
  def eventAsOfOrder(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.table(spark, dir, "orders")
      .select(col("o_custkey").as("user_id"), col("o_orderdate"))
    backward(events, orders, key = "user_id",
      leftTs = "ts", rightTs = "o_orderdate", rightVal = "o_orderdate",
      asOfCol = "asof_order_date")
      .select(col("event_id"), col("user_id"), col("asof_order_date"))
      .orderBy("event_id")
  }

  /** Both as-of directions in ONE window pass: `prevCol` = latest right
    * value at-or-before each left row, `nextCol` = earliest right value
    * STRICTLY after it. One union, one (key)-partitioned sort, two
    * frames over the same ordering — Catalyst plans a single
    * Exchange+Sort+Window where composing [[backward]]+[[forward]]+join
    * costs three shuffles for the same answer.
    *
    * The ascending-frame trick: rights sort before lefts on equal ts,
    * so the preceding frame's `last` is ≤-inclusive (exactly
    * [[backward]]), while the following frame's `first` is >-exclusive.
    * For NEAREST semantics exclusivity is invisible: an equal-ts right
    * is already `prevCol` at distance 0 and wins every tie, so the
    * nearest pick is identical to the inclusive-both-sides composition
    * (tie resolution included: preceding `last` ↑ = greatest value,
    * following `first` ↑ = smallest value — same as the two passes). */
  def nearest(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightVal: String,
      prevCol: String, nextCol: String): DataFrame = {
    val ord = Window.partitionBy(key)
      .orderBy(col("_ts"), col("_src"), col("_rv"))
    tagged(left, right, key, leftTs, rightTs, rightVal)(
      _.withColumn(prevCol, last(col("_rv"), ignoreNulls = true)
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn(nextCol, first(col("_rv"), ignoreNulls = true)
          .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))))
  }

  /** Contract query: each event matched to that user's temporally
    * NEAREST order in either direction (ties → the earlier order).
    * One [[nearest]] window pass — single user_id shuffle, no join. */
  def eventAsOfNearestOrder(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val orders = Tables.table(spark, dir, "orders")
      .select(col("o_custkey").as("user_id"), col("o_orderdate"))
    nearest(events, orders, key = "user_id",
      leftTs = "ts", rightTs = "o_orderdate", rightVal = "o_orderdate",
      prevCol = "prev_o", nextCol = "next_o")
      .select(col("event_id"), col("user_id"),
        when(col("prev_o").isNull, col("next_o"))
          .when(col("next_o").isNull, col("prev_o"))
          .when(col("ts") - col("prev_o") <= col("next_o") - col("ts"),
            col("prev_o"))
          .otherwise(col("next_o")).as("nearest_order_date"))
      .orderBy("event_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("evt_asof_nearest_order", eventAsOfNearestOrder,
      """WITH b AS (
        |  SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS prev_o
        |  FROM events e ASOF LEFT JOIN orders o
        |    ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate),
        |f AS (
        |  SELECT e.event_id, o.o_orderdate AS next_o
        |  FROM events e ASOF LEFT JOIN orders o
        |    ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate)
        |SELECT b.event_id, b.user_id,
        |       CASE WHEN prev_o IS NULL THEN next_o
        |            WHEN next_o IS NULL THEN prev_o
        |            WHEN (b.ts - prev_o) <= (next_o - b.ts) THEN prev_o
        |            ELSE next_o END AS nearest_order_date
        |FROM b JOIN f ON b.event_id = f.event_id
        |ORDER BY b.event_id""".stripMargin),
    QueryDef("evt_asof_order", eventAsOfOrder,
      """SELECT e.event_id, e.user_id, o.o_orderdate AS asof_order_date
        |FROM events e ASOF LEFT JOIN orders o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin),
    QueryDef("evt_asof_next_order", eventAsOfNextOrder,
      """SELECT e.event_id, e.user_id, o.o_orderdate AS next_order_date
        |FROM events e ASOF LEFT JOIN orders o
        |  ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin))
}
