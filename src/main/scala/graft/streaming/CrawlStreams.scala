package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.UrlCanon
import graft.operators.Warc

/** Streaming twins of the crawl-side ingest surfaces added with the
  * URL/WARC operators: the frontier URL screen and the WARC record
  * extractor, both STATELESS per-row transforms (append mode, no
  * watermark, no state store) — the shapes a live crawler actually
  * feeds, screened a micro-batch after discovery instead of at the
  * nightly batch.
  */
object CrawlStreams {

  /** Shared frontier screen — the stream and batch sides of the URL
    * admission contract (one builder; the parity spec pins it): each
    * arriving raw URL is canonicalized (`graft_url_canon` — the
    * codegen kernel, so the screen fuses into the scan), non-URLs
    * come out `valid=false` (counted, never dropped, never fatal),
    * and a stream-static LEFT join against the standing canonical-URL
    * set marks spellings of already-crawled pages `known=true` — the
    * orders-of-magnitude-cheaper pre-content dedup applied at the
    * frontier, before a byte of the page is fetched.
    *
    * `knownCanon` is the STATIC side (one `canon_url` column — in
    * production the persisted frontier index); Spark broadcast-joins
    * it per micro-batch. */
  private[graft] def urlScreen(urls: DataFrame,
      knownCanon: DataFrame): DataFrame = {
    urls
      .select(col("value").as("url"),
        UrlCanon.canonCol(col("value")).as("canon_url"),
        UrlCanon.hostCol(col("value")).as("canon_host"))
      .join(knownCanon.select(col("canon_url"), lit(true).as("known0")),
        Seq("canon_url"), "left")
      .select(col("url"), col("canon_url"), col("canon_host"),
        col("canon_url").isNotNull.as("valid"),
        coalesce(col("known0"), lit(false)).as("known"))
  }

  /** Streaming frontier URL screen over a `value`-typed feed. */
  def urlFrontierStream(urls: DataFrame, knownCanon: DataFrame): DataFrame =
    urlScreen(urls, knownCanon)

  /** Shared WARC record extraction — one row per WELL-FORMED record of
    * each arriving file blob (the [[Warc.parseRecords]] tolerant
    * contract: malformed records are counted in `file_corrupt`, echoed
    * on every record row of the file, and never fail the stream), a
    * per-file stateless flatMap. In production the stream is
    * `readStream.format("binaryFile")` over the crawler's landing
    * dir — one task per arriving file, zero state. */
  private[graft] def warcRecords(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, blob) =>
        val (recs, corrupt) = Warc.parseRecords(blob)
        recs.iterator.map { r =>
          (p, r.headers.getOrElse("warc-target-uri", ""),
            r.headers.getOrElse("warc-record-id", ""),
            r.payload.length.toLong, corrupt.toLong)
        }
      }
      .toDF("path", "target_uri", "record_id", "payload_bytes",
        "file_corrupt")
  }

  /** Streaming WARC record extractor over a (path, content) feed. */
  def warcRecordStream(files: DataFrame): DataFrame =
    warcRecords(files)

  /** Shared robots compliance screen — the stream and batch sides of
    * the fetch-time verdict (one builder; the parity spec pins it):
    * each arriving raw URL is canonicalized, its canonical path
    * prefix-tested against the host's Disallow set from the HOST-sized
    * `rules` table (host, disallow, crawl_delay) — stream-static
    * broadcast, a stateless map-side verdict per micro-batch, the
    * [[graft.operators.Robots.robotsScreen]] semantics a batch behind
    * discovery instead of a night behind it. A host absent from the
    * rules table is allow-all with no delay (no robots.txt = no
    * restrictions); non-URLs come out `valid=false, allowed=false`
    * (counted, never dropped, never fatal). */
  private[graft] def robotsScreen(urls: DataFrame,
      rules: DataFrame): DataFrame = {
    urls
      .select(col("value").as("url"),
        UrlCanon.canonCol(col("value")).as("canon_url"),
        UrlCanon.hostCol(col("value")).as("canon_host"))
      .withColumn("path",
        when(col("canon_url").isNotNull,
          regexp_replace(col("canon_url"), "^[a-z]+://[^/]+", "")))
      .join(broadcast(rules.select(col("host").as("canon_host"),
        col("disallow"), col("crawl_delay"))), Seq("canon_host"), "left")
      .select(col("url"), col("canon_url"), col("canon_host"), col("path"),
        col("canon_url").isNotNull.as("valid"),
        when(col("canon_url").isNull, lit(false))
          .otherwise(!exists(
            coalesce(col("disallow"), array().cast("array<string>")),
            p => col("path").startsWith(p)))
          .as("allowed"),
        col("crawl_delay"))
  }

  /** Streaming robots compliance screen over a `value`-typed URL feed
    * against a static (host, disallow, crawl_delay) rules table. */
  def robotsScreenStream(urls: DataFrame, rules: DataFrame): DataFrame =
    robotsScreen(urls, rules)

  /** Shared sitemap ingestion — the stream and batch sides of the
    * discovery feed (one builder; the parity spec pins it): each
    * arriving (host_id, xml) sitemap body runs the real tolerant
    * parser ([[graft.operators.Sitemap.parse]] — comments stripped,
    * entities decoded, loc-less/unterminated entries counted per body
    * and echoed on every row, never fatal), entries canonicalize
    * map-side, and a stream-static LEFT join against the standing
    * canonical frontier marks already-crawled pages. Stateless per
    * row — the sitemap refresh a crawler ingests a micro-batch after
    * fetch instead of at the nightly batch. */
  private[graft] def sitemapEntries(sitemaps: DataFrame,
      knownCanon: DataFrame): DataFrame = {
    val spark = sitemaps.sparkSession
    import spark.implicits._
    sitemaps.select(col("host_id"), col("xml"))
      .as[(Long, String)]
      .flatMap { case (h, xml) =>
        val (es, corrupt) = graft.operators.Sitemap.parse(xml)
        es.iterator.zipWithIndex.map { case (e, i) =>
          (h, i, e.loc, e.lastmod.orNull, e.priority.orNull, corrupt.toLong)
        }
      }
      .toDF("host_id", "seq", "loc", "lastmod_s", "priority", "body_corrupt")
      .select(col("host_id"), col("seq"), col("loc"),
        UrlCanon.canonCol(col("loc")).as("canon_url"),
        col("lastmod_s"), col("priority"), col("body_corrupt"))
      .join(knownCanon.select(col("canon_url"), lit(true).as("known0")),
        Seq("canon_url"), "left")
      .select(col("host_id"), col("seq"), col("loc"), col("canon_url"),
        col("lastmod_s"), col("priority"), col("body_corrupt"),
        col("canon_url").isNotNull.as("valid"),
        coalesce(col("known0"), lit(false)).as("known"))
  }

  /** Streaming sitemap ingestion over a (host_id, xml) feed against a
    * static canonical-frontier set. */
  def sitemapStream(sitemaps: DataFrame, knownCanon: DataFrame): DataFrame =
    sitemapEntries(sitemaps, knownCanon)

  /** Streaming politeness-spaced fetch scheduler — the
    * [[graft.operators.CrawlBudget.fetchSchedule]] plan emitted a
    * micro-batch behind discovery instead of at the window boundary:
    * each arriving admitted-novel (host_id, canon_url) gets the host's
    * NEXT slot and the politeness offset `(slot−1)·delay`, and is
    * emitted only while the host's window quota lasts. Quota and delay
    * are stream-static broadcast joins against the HOST-catalog plan
    * tables (in production: the persisted [[graft.operators.CrawlBudget
    * .crawlBudget]] output and the robots rules).
    *
    * State is ONE long per host (slots issued — O(hosts), bounded by
    * the catalog, the reactivation-detector discipline); within a
    * micro-batch a host's arrivals are slotted in canonical-URL order
    * (deterministic under Spark's unordered group iterator), across
    * batches in arrival order — so a feed that respects per-host
    * canonical order replays the batch plan bit for bit (the parity
    * spec pins it). Over-quota arrivals still advance the counter
    * (they were SEEN this window — exactly the batch rank semantics,
    * where rank counts every admitted-novel URL and the quota filter
    * comes after). */
  def fetchScheduleStream(urls: DataFrame, quotas: DataFrame,
      delays: DataFrame): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    urls.select(col("host_id").cast("long").as("host_id"), col("canon_url"))
      .join(broadcast(quotas.select(col("host_id").cast("long").as("host_id"),
        col("quota").cast("long").as("quota"))), "host_id")
      .join(broadcast(delays.select(col("host_id").cast("long").as("host_id"),
        coalesce(col("delay"), lit(1L)).as("delay"))), Seq("host_id"), "left")
      .select(col("host_id"), col("canon_url"), col("quota"),
        coalesce(col("delay"), lit(1L)).as("delay"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Int, String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (h, it, state) =>
        val used = state.getOption.getOrElse(0L)
        val rows = it.toVector.sortBy(_._2)
        state.update(used + rows.length)
        rows.iterator.zipWithIndex.collect {
          case ((_, c, q, d), i) if used + i + 1 <= q =>
            val slot = used + i + 1
            (h, slot.toInt, c, d, (slot - 1L) * d)
        }
      }
      .toDF("host_id", "slot", "canon_url", "delay", "fetch_offset_s")
  }

  /** Streaming WARC landing sink — the write half of the crawl loop a
    * micro-batch behind the fetcher ([[Warc.writeWarcBatch]] as a
    * foreachBatch sink): each arriving (doc_id, text) micro-batch is
    * framed with the batch writer's exact record bytes and landed as
    * `part-<batch>-<group>.warc` containers via executor-side FS
    * writes. Parity with [[Warc.writeWarcDir]] is per RECORD (octet-
    * exact payload/URI/id through the production reader) rather than
    * per file — a group's 16 records may arrive across batches, and a
    * landing sink never rewrites a landed container (append-only
    * crawl-exchange discipline; checkpoint + deterministic batch
    * naming make replayed batches byte-identical). */
  def warcLandingSink(docs: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, id: Long) =>
        Warc.writeWarcBatch(batch, id, path))
      .start()
}
