package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query key, declared once: its Spark builder and, when
  * ANSI SQL can express it, the DuckDB oracle that re-derives the same
  * rows. The oracle is by-name and evaluated on the first read of
  * [[oracle]], after every object it interpolates has finished
  * initialising — so a constant declared below the declaration site
  * is read with its value, never as 0/null. */
final class QueryDef private (val key: String,
    val build: (SparkSession, String) => DataFrame, sql: () => Option[String]) {
  lazy val oracle: Option[String] = sql()
}

object QueryDef {
  def apply(key: String, build: (SparkSession, String) => DataFrame,
      oracle: => String): QueryDef =
    new QueryDef(key, build, () => Some(oracle))

  /** A rows-only key: no oracle can express it. */
  def apply(key: String, build: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(key, build, () => None)

  /** The oracle SQL of `key` in `defs`, for oracles that compose another
    * key's oracle. */
  def oracleOf(defs: Seq[QueryDef], key: String): String =
    defs.find(_.key == key).flatMap(_.oracle)
      .getOrElse(throw new NoSuchElementException(s"no oracle for $key"))
}
