package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Interval (range) self-join: pairs of events of the same key whose
  * timestamps are within a bound of each other. Spark has no native
  * interval join; a raw range predicate degenerates to a per-key cross
  * product. The scalable composition: quantize time into buckets the
  * size of the bound, explode the LEFT side to (bucket, bucket+1), and
  * equi-join on (key, bucket) — every qualifying pair lands in exactly
  * one bucket match, so the shuffle is keyed and the comparison is
  * bucket-local (the Flink interval-join / icebergy range-bucket
  * pattern).
  */
object IntervalJoin {

  val BoundSec = 300L

  /** Ordered pairs (a before b, ties by event_id) of same-user events
    * within `BoundSec` seconds. */
  def eventPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Events.eventsWithEpochSeconds(spark, dir)
      .withColumn("bucket", floor(col("es") / BoundSec))
    val a = e.select(
        col("user_id"), col("event_id").as("a_id"), col("es").as("a_es"),
        explode(array(col("bucket"), col("bucket") + 1)).as("bucket"))
    val b = e.select(
      col("user_id"), col("event_id").as("b_id"), col("es").as("b_es"),
      col("bucket"))
    a.join(b, Seq("user_id", "bucket"))
      .where(
        (col("b_es") - col("a_es")).between(0, BoundSec) &&
          (col("a_es") < col("b_es") ||
            col("a_es") === col("b_es") && col("a_id") < col("b_id")))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (col("b_es") - col("a_es")).as("gap_sec"))
      .orderBy("user_id", "a_id", "b_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("evt_interval_pairs", eventPairs,
      s"""WITH e AS (SELECT user_id, event_id,
         |                  CAST(FLOOR(epoch(ts)) AS BIGINT) AS es FROM events)
         |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
         |       b.es - a.es AS gap_sec
         |FROM e a JOIN e b
         |  ON a.user_id = b.user_id
         | AND b.es - a.es BETWEEN 0 AND $BoundSec
         | AND (a.es < b.es OR (a.es = b.es AND a.event_id < b.event_id))
         |ORDER BY a.user_id, a_id, b_id""".stripMargin))
}
