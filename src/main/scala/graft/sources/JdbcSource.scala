package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}

/** JDBC extract (reference: scripts/extract.py:13-21,47-59 pulls
  * `public.<table>` from Postgres into the bronze layer).
  *
  * Scale design: a naive `SELECT *` through one connection serializes
  * the whole table through a single task. `partitionColumn` +
  * lowerBound/upperBound/numPartitions makes Spark issue range-predicate
  * queries in parallel — the only way a 100 TB extract finishes.
  * Untestable in this sandbox (no database), so the builder is exercised
  * by unit tests on its configuration only.
  */
object JdbcSource {

  final case class JdbcConfig(
      url: String,
      table: String,
      user: String,
      password: String,
      partitionColumn: Option[String] = None,
      lowerBound: Option[Long] = None,
      upperBound: Option[Long] = None,
      numPartitions: Int = 32,
      fetchSize: Int = 10000,
      /** Test-extraction row cap (extract.py:44-47's `LIMIT n` path):
        * pushed into the remote query via a subquery so the database —
        * not Spark — truncates; a smoke extract never drags the table. */
      limit: Option[Int] = None,
      /** Remote-side row filters, e.g. `Seq("status = 'active'")` —
        * ANDed into the pushed query so filtered rows never cross the
        * wire. Disjoint range predicates can also serve as a manual
        * partitioning scheme (one task per predicate via the
        * predicate-array jdbc API). */
      predicates: Seq[String] = Nil)

  /** The effective remote relation: the raw table, or a subquery
    * embedding LIMIT/WHERE so truncation and filtering happen in the
    * database. Factored out (and public) so configuration is
    * unit-testable without a live database. */
  def dbtable(cfg: JdbcConfig): String =
    if (cfg.limit.isEmpty && cfg.predicates.isEmpty) cfg.table
    else {
      val where =
        if (cfg.predicates.isEmpty) ""
        else cfg.predicates.mkString(" WHERE (", ") AND (", ")")
      val limit = cfg.limit.map(n => s" LIMIT $n").getOrElse("")
      s"(SELECT * FROM ${cfg.table}$where$limit) graft_extract"
    }

  /** Reader options as a plain map (unit-testable). */
  def options(cfg: JdbcConfig): Map[String, String] = {
    val base = Map(
      "url" -> cfg.url,
      "dbtable" -> dbtable(cfg),
      "user" -> cfg.user,
      "password" -> cfg.password,
      "fetchsize" -> cfg.fetchSize.toString)
    (cfg.partitionColumn, cfg.lowerBound, cfg.upperBound) match {
      case (Some(col), Some(lo), Some(hi)) =>
        base ++ Map(
          "partitionColumn" -> col,
          "lowerBound" -> lo.toString,
          "upperBound" -> hi.toString,
          "numPartitions" -> cfg.numPartitions.toString)
      case _ => base
    }
  }

  /** Configure a reader for the given table; `.load()` connects. */
  def reader(spark: SparkSession, cfg: JdbcConfig): DataFrameReader =
    spark.read.format("jdbc").options(options(cfg))

  // ---- write-back (warehouse load — the extract contract's mirror) ----

  /** Write-side configuration, symmetric with [[JdbcConfig]] (the
    * reference pipeline's companion load step pushes curated gold back
    * into a warehouse over JDBC).
    *
    * Scale design: `numPartitions` caps concurrent connections (Spark
    * coalesces before writing — a 10k-partition gold table must not
    * open 10k sessions against one database); `batchSize` batches
    * inserts so rows don't round-trip one by one; `isolationLevel`
    * NONE is the bulk-load setting (no transaction bookkeeping per
    * batch); `truncate = true` makes overwrite TRUNCATE instead of
    * DROP/CREATE, preserving remote indexes, grants and constraints. */
  final case class JdbcWriteConfig(
      url: String,
      table: String,
      user: String,
      password: String,
      batchSize: Int = 10000,
      isolationLevel: String = "READ_COMMITTED",
      numPartitions: Option[Int] = None,
      truncate: Boolean = false)

  /** Writer options as a plain map (unit-testable, mirrors
    * [[options]]). */
  def writeOptions(cfg: JdbcWriteConfig): Map[String, String] = {
    val base = Map(
      "url" -> cfg.url,
      "dbtable" -> cfg.table,
      "user" -> cfg.user,
      "password" -> cfg.password,
      "batchsize" -> cfg.batchSize.toString,
      "isolationLevel" -> cfg.isolationLevel,
      "truncate" -> cfg.truncate.toString)
    cfg.numPartitions.fold(base)(n => base + ("numPartitions" -> n.toString))
  }

  /** Configure a writer for the frame; `.save()` connects. */
  def writer(df: DataFrame, cfg: JdbcWriteConfig,
      mode: String = "append"): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.format("jdbc").mode(mode).options(writeOptions(cfg))
}
