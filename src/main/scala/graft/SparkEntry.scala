package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see SURVEY.md §2 for the inventory each key maps
  * to. Every key with an oracle is hash-checked against DuckDB; the
  * rest get a rows-only check. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Gold.dailySalesSummary(spark, "/root/testdata/sf0.001")

  /** Every module's query declarations, one per implemented operator. */
  lazy val defs: Seq[QueryDef] =
    Gold.defs ++ Athena.defs ++ Silver.defs ++ Ingest.defs ++ DataQuality.defs ++
      TextAnalysis.defs ++ Dedup.defs ++ Similarity.defs ++ Events.defs ++
      Multimodal.defs ++ AsOfJoin.defs ++ IntervalJoin.defs ++ Curation.defs ++
      Clustering.defs ++ Compaction.defs ++ FuzzyMatch.defs ++ Graph.defs ++
      Html.defs ++ Url.defs ++ Warc.defs ++ Robots.defs ++ Sitemap.defs ++
      CrawlBudget.defs

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.key -> d.build).toMap

  /** Equivalent ANSI SQL runnable by DuckDB on the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    defs.flatMap(d => d.oracle.map(d.key -> _)).toMap
}
