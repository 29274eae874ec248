package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, ShortType}
import graft.sources.Tables

/** Silver-layer cleaning (reference: scripts/transform.py:33-44):
  * string→timestamp with coercion-to-null (pandas `errors='coerce'`)
  * and numeric null-fill with 0.
  *
  * Both are pure row-local expressions — no shuffle, fully inside
  * whole-stage codegen, trivially scalable.
  */
object Silver {

  /** Columns the reference treats as dates (transform.py:33). */
  val defaultDateCols: Seq[String] =
    Seq("created_at", "updated_at", "order_date", "signup_date", "last_restocked")

  /** Parse string timestamp columns, null on unparseable input —
    * `try_to_timestamp` is exactly pandas to_datetime(errors='coerce'). */
  def coerceTimestamps(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df) { (d, c) =>
      d.withColumn(c, try_to_timestamp(col(c)).cast("timestamp_ntz"))
    }

  /** Fill nulls in every numeric column with 0 (transform.py:40-44). */
  def fillNumericNulls(df: DataFrame): DataFrame = {
    val numeric = df.schema.fields.collect {
      case f if Seq(DoubleType, FloatType, IntegerType, LongType, ShortType)
        .contains(f.dataType) => f.name
    }
    df.na.fill(0, numeric)
  }

  /** Full silver clean: coerce known date columns, fill numeric nulls. */
  def clean(df: DataFrame, dateCols: Seq[String] = defaultDateCols): DataFrame =
    fillNumericNulls(coerceTimestamps(df, dateCols))

  // ---- SCD Type-2 dimension merge ----------------------------------------

  /** Slowly-changing-dimension type-2 merge: apply an update batch to a
    * dimension keeping full history — every existing row survives as
    * version 1 (no longer current if its key was updated) and each
    * updated key gains a version-2 row carrying the new attribute.
    *
    * Scale design: one keyed equi-join of dimension × updates (Spark
    * broadcasts the update batch when it is small, shuffle-hash
    * otherwise) plus a union — never a per-key loop, never a window
    * over the dimension, and only the touched keys produce new rows
    * (merge-on-read shape).
    */
  def scd2Merge(current: DataFrame, updates: DataFrame,
      key: String, attr: String, newAttr: String): DataFrame = {
    // explicit presence marker: "was this key updated" must be a KEY
    // test, not a value-null test — a legitimately-NULL new attribute
    // value would otherwise leave the old version marked current
    val upd = updates.withColumn("_in_upd", lit(true))
    val closed = current.join(upd, Seq(key), "left")
      .select(col(key), lit(1).as("version"), col(attr),
        col("_in_upd").isNull.as("is_current"))
    val opened = current.join(upd, Seq(key))
      .select(col(key), lit(2).as("version"),
        col(newAttr).as(attr), lit(true).as("is_current"))
    closed.unionByName(opened).orderBy(key, "version")
  }

  /** Deterministic "incoming update batch" for the SCD2 contract query:
    * every ~10th customer (by portable hash) gets a new balance. */
  def scd2UpdateBatch(customers: DataFrame): DataFrame =
    customers
      .where(Curation.portableHash(col("customer_id")) % 10 === 0)
      .select(col("customer_id"), (col("acctbal") + 100.0).as("new_acctbal"))

  def scd2Customers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customers(spark, dir).select("customer_id", "acctbal")
    scd2Merge(cust, scd2UpdateBatch(cust), "customer_id", "acctbal", "new_acctbal")
  }

  // ---- dimension snapshot diff (CDC derivation) ---------------------------

  /** Diff two dimension snapshots into a change feed: one row per key
    * present in either snapshot, classified added / removed / changed /
    * unchanged — how CDC is derived when the source system only hands
    * you full snapshots. One full-outer keyed equi-join; the value
    * compare is null-safe (`<=>`); no window, no collect. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      key: String, attr: String): DataFrame = {
    // explicit presence markers: added/removed are KEY-presence classes
    // (matching CDC semantics and the oracle's `o.customer_id IS NULL`
    // test) — classifying on value nullness would misfile a present key
    // whose tracked attribute is NULL
    val o = oldSnap.select(col(key), col(attr).as("old_val"),
      lit(true).as("_in_old"))
    val n = newSnap.select(col(key), col(attr).as("new_val"),
      lit(true).as("_in_new"))
    o.join(n, Seq(key), "full_outer")
      .select(col(key), col("old_val"), col("new_val"),
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .when(!(col("old_val") <=> col("new_val")), "changed")
          .otherwise("unchanged").as("change"))
      .orderBy(key)
  }

  /** Contract query: the "new" snapshot drops every hash%10==1 customer,
    * bumps the balance of every hash%10==0 one, and adds a synthetic
    * key-space extension — covering all four change classes. */
  def snapshotDiffCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customers(spark, dir).select("customer_id", "acctbal")
    val h = Curation.portableHash(col("customer_id")) % 10
    val newSnap = cust.where(h =!= 1)
      .select(col("customer_id"),
        when(h === 0, col("acctbal") + 100.0).otherwise(col("acctbal"))
          .as("acctbal"))
      .unionByName(cust.where(h === 2)
        .select((col("customer_id") + 1000000000L).as("customer_id"),
          col("acctbal")))
    snapshotDiff(cust, newSnap, "customer_id", "acctbal")
  }

  /** Apply a CDC delta feed (added/removed/changed rows ONLY — the
    * small side) to a base snapshot: the MERGE-INTO primitive of every
    * lakehouse maintenance job. Removed keys drop, changed keys take
    * the new value, added keys append, untouched keys pass through
    * unmodified — so `applyCdc(old, diff(old, new)) == new` by
    * construction, which is exactly what the oracle asserts.
    *
    * Scale shape: ONE keyed left join of the base against the delta
    * feed (deltas ≪ base — broadcast when they fit, shuffle-on-key
    * otherwise) plus a union of the additions; the base is scanned
    * once, no window, no full-outer re-diff. */
  def applyCdc(base: DataFrame, feed: DataFrame, key: String,
      attr: String): DataFrame = {
    val deltas = feed.where(col("change") =!= "unchanged")
      .select(col(key), col("change"), col("new_val"))
    base.join(deltas, Seq(key), "left")
      .where(col("change").isNull || col("change") === "changed")
      .select(col(key),
        when(col("change") === "changed", col("new_val"))
          .otherwise(col(attr)).as(attr))
      .unionByName(deltas.where(col("change") === "added")
        .select(col(key), col("new_val").as(attr)))
      .orderBy(key)
  }

  /** Contract query: round-trip the snapshot diff — applying the
    * [[snapshotDiffCustomers]] change feed to the old snapshot must
    * reproduce the new snapshot bit-for-bit (the oracle IS the new
    * snapshot's definition). */
  def cdcApplyCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customers(spark, dir).select("customer_id", "acctbal")
    applyCdc(cust, snapshotDiffCustomers(spark, dir), "customer_id", "acctbal")
  }

  // ---- contract queries -------------------------------------------------

  /** Date coercion demo: orders with 10% of dates corrupted to garbage;
    * the operator must null exactly those. */
  def dateCoercion(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.table(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        when(col("o_orderkey") % 10 === 0, lit("not-a-date"))
          .otherwise(col("o_orderdate").cast("string")).as("order_date"))
    coerceTimestamps(raw, Seq("order_date"))
      .select(col("o_orderkey"), col("order_date").as("parsed_ts"))
      .orderBy("o_orderkey")
  }

  /** Null-fill demo: events with 1-in-7 values nulled, then filled. */
  def nullFill(spark: SparkSession, dir: String): DataFrame = {
    val holey = Tables.events(spark, dir)
      .select(
        col("event_id"),
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))
          .as("value"))
    fillNumericNulls(holey)
      .select(col("event_id"), col("value").as("value_filled"))
      .orderBy("event_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("xf_date_coercion", dateCoercion,
      """SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderdate END AS parsed_ts
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    QueryDef("xf_null_fill", nullFill,
      """SELECT event_id,
        |       CASE WHEN event_id % 7 = 0 THEN 0.0 ELSE value END AS value_filled
        |FROM events ORDER BY event_id""".stripMargin),
    QueryDef("xf_scd2", scd2Customers,
      s"""WITH ${Tables.customersCte},
         |upd AS (SELECT customer_id, acctbal + 100.0 AS new_acctbal
         |        FROM customers
         |        WHERE ${Curation.portableHashSql("customer_id")} % 10 = 0)
         |SELECT c.customer_id, 1 AS version, c.acctbal AS acctbal,
         |       u.customer_id IS NULL AS is_current
         |FROM customers c LEFT JOIN upd u USING (customer_id)
         |UNION ALL
         |SELECT customer_id, 2 AS version, new_acctbal AS acctbal,
         |       TRUE AS is_current
         |FROM upd
         |ORDER BY customer_id, version""".stripMargin),
    QueryDef("xf_dim_diff", snapshotDiffCustomers, {
      val h = s"${Curation.portableHashSql("customer_id")} % 10"
      s"""WITH ${Tables.customersCte},
         |oldsnap AS (SELECT customer_id, acctbal FROM customers),
         |newsnap AS (
         |  SELECT customer_id,
         |         CASE WHEN $h = 0 THEN acctbal + 100.0 ELSE acctbal END AS acctbal
         |  FROM customers WHERE $h <> 1
         |  UNION ALL
         |  SELECT customer_id + 1000000000, acctbal
         |  FROM customers WHERE $h = 2)
         |SELECT COALESCE(o.customer_id, n.customer_id) AS customer_id,
         |       o.acctbal AS old_val, n.acctbal AS new_val,
         |       CASE WHEN o.customer_id IS NULL THEN 'added'
         |            WHEN n.customer_id IS NULL THEN 'removed'
         |            WHEN o.acctbal IS DISTINCT FROM n.acctbal THEN 'changed'
         |            ELSE 'unchanged' END AS change
         |FROM oldsnap o FULL OUTER JOIN newsnap n
         |  ON o.customer_id = n.customer_id
         |ORDER BY customer_id""".stripMargin
    }),
    // the round-trip contract: applying the diff reproduces the new
    // snapshot, so the oracle is the new snapshot's own definition
    QueryDef("xf_cdc_apply", cdcApplyCustomers, {
      val h = s"${Curation.portableHashSql("customer_id")} % 10"
      s"""WITH ${Tables.customersCte}
         |SELECT customer_id,
         |       CASE WHEN $h = 0 THEN acctbal + 100.0 ELSE acctbal END AS acctbal
         |FROM customers WHERE $h <> 1
         |UNION ALL
         |SELECT customer_id + 1000000000, acctbal
         |FROM customers WHERE $h = 2
         |ORDER BY customer_id""".stripMargin
    }))
}
