package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** WARC-shaped crawl-container source — the record framing crawl
  * corpora actually arrive in (version line, `Name: value` headers
  * including `Content-Length`, CRLF discipline, a byte-counted payload,
  * a blank-line record separator): the one ingest format between the
  * crawler and `txt_html_extract` the engine still lacked next to
  * CSV/JSONL/ORC/parquet/text-lines ([[Ingest]]).
  *
  * Framing contract (shared by [[frame]], [[parseRecords]], the oracle
  * arithmetic and WarcSpec's planted corruption cases):
  *   - a record starts with the exact version line `WARC/1.0\r\n`;
  *   - header lines are `Name: value\r\n` (names case-insensitive),
  *     terminated by an empty `\r\n` line;
  *   - the payload is exactly `Content-Length` OCTETS (bytes, not
  *     chars — multi-byte text is counted encoded), followed by
  *     `\r\n\r\n`;
  *   - a malformed record (missing/garbled version line, unparseable
  *     or overrunning Content-Length, truncated header block) is
  *     COUNTED and skipped by resyncing to the next version-line
  *     marker — corruption in one record never fails the file (the
  *     mm_* corrupt-payload convention).
  *
  * The contract query `src_warc_roundtrip` follows the deterministic-
  * synthesis precedent: per document one response record (target URI
  * from the [[Url]] host arithmetic, record id `<urn:graft:doc_id>`,
  * payload = the document text's UTF-8 bytes), records grouped
  * [[RecordsPerFile]] per file in doc_id order, then parsed BACK by
  * the real parser and verified against the source table. The DuckDB
  * oracle recomputes URI / octet length / header count from the same
  * arithmetic, so a framing or parsing bug (off-by-one length, CRLF
  * drift, header loss) breaks the hash gate at every scale factor.
  *
  * Scale shape: framing and parsing are per-file executor work; the
  * only data shuffle is the doc→file grouping (in production the
  * crawler already wrote the files — ingestion is [[readWarcDir]]'s
  * binaryFile scan + per-file flatMap, embarrassingly parallel, one
  * task per file split with zero shuffle).
  */
object Warc {

  /** Records per synthesized WARC file. r15: raised 16 → 128 (guide §6
    * file sizing): 16-record (~5 KB) containers meant 313 file
    * creations + CRC twins + listings PER RUN at sf0.1 — file-op
    * overhead, not framing, dominated the sink roundtrip. Every query
    * output is invariant to this constant (doc→file placement and the
    * `file_ok` check derive from the SAME value on both sides; oracles
    * never reference it), and WarcSpec/StreamingSinkSpec parameterize
    * on it. Real crawl exchanges ship ~GB containers; the production
    * value scales with payload size, not record count. */
  val RecordsPerFile = 128L

  /** Required headers on a well-formed record. */
  val HeaderCount = 4L

  final case class WarcRecord(headers: Map[String, String],
      payload: Array[Byte])

  /** One framed record: version line + 4 headers + blank line +
    * payload + record separator. */
  def frame(targetUri: String, recordId: String,
      payload: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder(128 + targetUri.length + recordId.length)
      .append("WARC/1.0\r\n")
      .append("WARC-Type: response\r\n")
      .append("WARC-Target-URI: ").append(targetUri).append("\r\n")
      .append("WARC-Record-ID: ").append(recordId).append("\r\n")
      .append("Content-Length: ").append(payload.length).append("\r\n\r\n")
      .toString.getBytes(UTF_8)
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  private val Marker = "WARC/1.0\r\n".getBytes(UTF_8)

  private def indexOf(blob: Array[Byte], pat: Array[Byte], from: Int): Int = {
    var i = math.max(0, from)
    val last = blob.length - pat.length
    while (i <= last) {
      var j = 0
      while (j < pat.length && blob(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }

  /** Parse a WARC file blob: (well-formed records in file order,
    * corrupt-record count). Tolerant per the framing contract — a
    * malformed record is counted and the scan resyncs at the next
    * version-line marker. */
  def parseRecords(blob: Array[Byte]): (Seq[WarcRecord], Int) = {
    val out = Vector.newBuilder[WarcRecord]
    var corrupt = 0
    var i = 0
    // true while resyncing past an already-counted corrupt record: its
    // remaining bytes before the next marker are NOT a second defect
    var skipping = false
    def junkIn(from: Int, until: Int): Boolean = {
      var k = from; var junk = false
      while (k < until) {
        val b = blob(k)
        if (b != '\r' && b != '\n') junk = true
        k += 1
      }
      junk
    }
    while (i < blob.length) {
      val at = indexOf(blob, Marker, i)
      if (at < 0) {
        // trailing garbage with no further marker: one corrupt tail if
        // any non-separator bytes remain outside a resync skip
        if (!skipping && junkIn(i, blob.length)) corrupt += 1
        i = blob.length
      } else {
        // bytes before the marker that are not bare separators are a
        // garbled (e.g. version-line-less) record
        if (at > i && !skipping && junkIn(i, at)) corrupt += 1
        skipping = false
        var p = at + Marker.length
        var headers = Map.empty[String, String]
        var ok = true
        var done = false
        while (ok && !done) {
          val eol = indexOf(blob, Array[Byte]('\r', '\n'), p)
          if (eol < 0) { ok = false }
          else if (eol == p) { p = eol + 2; done = true } // blank line
          else {
            val line = new String(blob, p, eol - p, UTF_8)
            val colon = line.indexOf(':')
            if (colon <= 0) ok = false
            else {
              headers += (line.substring(0, colon).trim
                .toLowerCase(java.util.Locale.ROOT) ->
                line.substring(colon + 1).trim)
              p = eol + 2
            }
          }
        }
        val len: Long =
          if (!ok) -1L
          else headers.get("content-length") match {
            case Some(v) if v.nonEmpty && v.forall(_.isDigit) => v.toLong
            case _ => -1L
          }
        if (!ok || len < 0 || p + len > blob.length) {
          corrupt += 1
          skipping = true
          i = at + Marker.length // resync past this marker
        } else {
          val payload = java.util.Arrays.copyOfRange(blob, p, p + len.toInt)
          out += WarcRecord(headers, payload)
          i = p + len.toInt
          // consume the record separator if present
          if (i + 4 <= blob.length && blob(i) == '\r' && blob(i + 1) == '\n' &&
              blob(i + 2) == '\r' && blob(i + 3) == '\n') i += 4
        }
      }
    }
    (out.result(), corrupt)
  }

  /** The synthesized WARC file set: (file_id, blob). One shuffle (the
    * doc→file grouping); framing is per-group executor work — payload
    * bytes never reach the driver. */
  def warcFiles(spark: SparkSession, dir: String): DataFrame =
    warcFilesOf(Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")))

  /** [[warcFiles]] over an arbitrary (doc_id, text) frame — shared by
    * the corpus sink and the streaming landing sink's per-micro-batch
    * framing (identical [[frame]] bytes per record by construction). */
  private[graft] def warcFilesOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .groupByKey(_._1 / RecordsPerFile)
      .mapGroups { (fid, it) =>
        val recs = it.toArray.sortBy(_._1)
        val bos = new ByteArrayOutputStream()
        recs.foreach { case (id, text) =>
          bos.write(frame(
            s"http://host${id % Url.HostMod}.example/p$id",
            s"<urn:graft:$id>", text.getBytes(UTF_8)))
        }
        (fid, bos.toByteArray)
      }
      .toDF("file_id", "blob")
  }

  /** Read a directory of `.warc` files as parsed records — the
    * production ingestion path: a binaryFile scan (one task per file
    * split, no shuffle) + per-file parse. Emits one row per
    * well-formed record (path, target_uri, record_id, content_length,
    * payload) plus nothing for corrupt records (count them with
    * [[parseRecords]] directly where the audit matters). */
  def readWarcDir(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, blob) =>
        parseRecords(blob)._1.iterator.map { r =>
          (p, r.headers.getOrElse("warc-target-uri", ""),
            r.headers.getOrElse("warc-record-id", ""),
            r.payload.length.toLong, r.payload)
        }
      }
      .toDF("path", "target_uri", "record_id", "content_length", "payload")
  }

  /** `src_warc_roundtrip`: frame the corpus into WARC files, parse the
    * files back with the real parser, and verify every record against
    * the source table — doc id recovered from the record id, the
    * parsed Content-Length, the header census, and a byte-exact
    * payload comparison. */
  def warcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parsed = warcFiles(spark, dir)
      .as[(Long, Array[Byte])]
      .flatMap { case (_, blob) =>
        parseRecords(blob)._1.iterator.flatMap { r =>
          val rid = r.headers.getOrElse("warc-record-id", "")
          if (rid.startsWith("<urn:graft:") && rid.endsWith(">"))
            Some((rid.substring(11, rid.length - 1).toLong,
              r.headers.getOrElse("warc-target-uri", ""),
              r.headers.getOrElse("content-length", "-1").toLong,
              r.headers.size.toLong,
              new String(r.payload, UTF_8)))
          else None
        }
      }
      .toDF("doc_id", "target_uri", "content_length", "n_headers", "payload")
    parsed
      .join(Tables.table(spark, dir, "documents").select("doc_id", "text"),
        Seq("doc_id"))
      .select(col("doc_id"), col("target_uri"), col("content_length"),
        col("n_headers"),
        (col("payload") === col("text")).as("payload_match"))
      .orderBy("doc_id")
  }

  // per-process work dir (the Ingest.tmp convention: concurrent
  // drivers must not overwrite each other's staging output)
  private def tmp(name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_work_${ProcessHandle.current.pid}/$name"

  /** Production WARC WRITER sink — the write half of [[readWarcDir]]:
    * frame the corpus into [[RecordsPerFile]]-record containers and
    * write one `.warc` file per group under `path`, executor-side
    * Hadoop-FS binary writes (payload bytes never touch the driver; one
    * task per container — the shape an exporter feeding a crawl-corpus
    * exchange actually runs). File naming is deterministic
    * (`part-<file_id>%05d.warc`), so a re-run overwrites byte-identical
    * files — idempotent like every sink here. */
  def writeWarcDir(spark: SparkSession, dir: String, path: String): Unit =
    writeWarcContainers(warcFiles(spark, dir), path, f => f"part-$f%05d.warc")

  /** Executor-side container landing shared by the corpus sink and the
    * streaming micro-batch sink: one Hadoop-FS binary write per
    * container, payload bytes never on the driver. */
  private def writeWarcContainers(files: DataFrame, path: String,
      name: Long => String): Unit = {
    val spark = files.sparkSession
    import spark.implicits._
    files.as[(Long, Array[Byte])]
      .foreachPartition { (it: Iterator[(Long, Array[Byte])]) =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val base = new org.apache.hadoop.fs.Path(path)
        val fs = base.getFileSystem(conf)
        it.foreach { case (fid, blob) =>
          val out = fs.create(
            new org.apache.hadoop.fs.Path(base, name(fid)), true)
          try out.write(blob) finally out.close()
        }
      }
  }

  /** One streaming micro-batch landed as WARC containers — the
    * foreachBatch body of the streaming landing sink
    * ([[graft.streaming.CrawlStreams.warcLandingSink]]): the arriving
    * documents framed with the batch writer's exact [[frame]] bytes
    * and grouped by the SAME doc_id DIV [[RecordsPerFile]] rule, one
    * file per (micro-batch, group) — `part-<batch>%05d-<fid>%05d.warc`
    * — because a group's records may arrive across batches and a
    * landing sink must never rewrite a landed container (append-only
    * crawl-exchange discipline; re-running the SAME batch id is
    * idempotent byte-for-byte). */
  def writeWarcBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    writeWarcContainers(warcFilesOf(batch), path,
      f => f"part-$batchId%05d-$f%05d.warc")

  /** `snk_warc_dir`: the writer sink driven end-to-end — write the
    * corpus as a `.warc` directory ([[writeWarcDir]]), scan it back
    * with the production reader ([[readWarcDir]]'s binaryFile +
    * tolerant parse), and verify every record octet-exactly against
    * the source table: recovered doc id, target URI, parsed content
    * length, byte-exact payload, and the deterministic file placement
    * (`file_ok`: the record came back from the container its doc_id
    * group wrote). */
  def warcSinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = tmp("warc_sink")
    writeWarcDir(spark, dir, path)
    val parsed = readWarcDir(spark, path)
      .where(col("record_id").startsWith("<urn:graft:"))
      .select(
        expr("CAST(substring(record_id, 12, length(record_id) - 12) AS BIGINT)")
          .as("doc_id"),
        col("target_uri"), col("content_length"),
        col("payload").cast("string").as("payload_s"), col("path"))
    parsed
      .join(Tables.table(spark, dir, "documents").select("doc_id", "text"),
        Seq("doc_id"))
      .select(col("doc_id"), col("target_uri"), col("content_length"),
        (col("payload_s") === col("text")).as("payload_match"),
        col("path").endsWith(
          concat(lit("part-"),
            lpad((col("doc_id") / lit(RecordsPerFile)).cast("long").cast("string"),
              5, "0"), lit(".warc"))).as("file_ok"))
      .orderBy("doc_id")
  }

  /** The synthesized crawl-container set for the EXTRACTION pipeline:
    * WARC files whose payloads are the boilerplate-dressed HTML pages
    * of [[Html.htmlPages]] — what a crawler actually lands, vs the
    * clean-text payloads of [[warcFiles]]. Same grouping/framing
    * contract. */
  private[graft] def warcHtmlFiles(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Html.htmlPages(spark, dir)
      .select(col("doc_id"), col("html"))
      .as[(Long, String)]
      .groupByKey(_._1 / RecordsPerFile)
      .mapGroups { (fid, it) =>
        val recs = it.toArray.sortBy(_._1)
        val bos = new ByteArrayOutputStream()
        recs.foreach { case (id, html) =>
          bos.write(frame(
            s"http://host${id % Url.HostMod}.example/p$id",
            s"<urn:graft:$id>", html.getBytes(UTF_8)))
        }
        (fid, bos.toByteArray)
      }
      .toDF("file_id", "blob")
  }

  /** `xf_warc_extract`: the crawl bronze→silver front door REPLAYED ON
    * CRAWL CONTAINERS — [[warcHtmlFiles]] (WARC files holding
    * boilerplate-dressed HTML) parsed back by the real record parser
    * ([[parseRecords]]) and each payload pushed through the real
    * extractor (`graft_html_parsed`): per document, the fetched URI
    * and the extraction census + main text a curation pipeline would
    * ingest. Composes `src_warc_roundtrip`'s framing with
    * `txt_html_extract`'s extraction in ONE pipeline, so the oracle is
    * the html-extract oracle arithmetic plus the URI arithmetic —
    * a bug in framing, record parsing, payload byte-accounting OR
    * extraction breaks the hash gate.
    *
    * Scale shape: record parsing and extraction are per-file / per-row
    * executor work (in production: `binaryFile` scan → flatMap →
    * map-side extract, zero shuffle before the documents-shaped sink);
    * here the only shuffles are the synthesis doc→file grouping and
    * the output ordering. Parity with [[Html.htmlExtract]] on the
    * shared columns is asserted in WarcSpec. */
  def warcExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val payloads = warcHtmlFiles(spark, dir)
      .as[(Long, Array[Byte])]
      .flatMap { case (_, blob) =>
        parseRecords(blob)._1.iterator.flatMap { r =>
          val rid = r.headers.getOrElse("warc-record-id", "")
          if (rid.startsWith("<urn:graft:") && rid.endsWith(">"))
            Some((rid.substring(11, rid.length - 1).toLong,
              r.headers.getOrElse("warc-target-uri", ""),
              new String(r.payload, UTF_8)))
          else None
        }
      }
      .toDF("doc_id", "target_uri", "html")
    val p = graft.functions.HtmlExtract.parsedCol(col("html"))
    payloads
      .select(col("doc_id"), col("target_uri"), p.as("p"))
      .select(col("doc_id"), col("target_uri"),
        col("p.n_blocks").as("n_blocks"),
        col("p.n_kept").as("n_kept"),
        col("p.n_dropped_link").as("n_dropped_link"),
        col("p.n_dropped_short").as("n_dropped_short"),
        length(col("p.text")).cast("long").as("extracted_chars"),
        col("p.text").as("extracted_text"))
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("xf_warc_extract", warcExtract, {
      // the txt_html_extract oracle arithmetic + the WARC target-URI
      // arithmetic (Html.synthPage census over documents.text; URI from
      // the framing contract)
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w,
         |             unnest(generate_series(0, (len(w)-1)//${Html.ParaWords}))
         |               AS ci
         |      FROM d),
         |c AS (SELECT doc_id, ci,
         |             array_to_string(w[ci*${Html.ParaWords}+1 :
         |               ci*${Html.ParaWords}+${Html.ParaWords}], ' ') AS para
         |      FROM p),
         |k AS (SELECT doc_id,
         |             CAST(COUNT(*) FILTER (WHERE length(para) >= 1) AS BIGINT)
         |               AS n_paras,
         |             CAST(COUNT(*) FILTER (WHERE length(para) >=
         |               ${graft.functions.HtmlExtract.MinBlockChars}) AS BIGINT)
         |               AS n_long,
         |             string_agg(CASE WHEN length(para) >=
         |                 ${graft.functions.HtmlExtract.MinBlockChars} THEN para
         |               END, chr(10) ORDER BY ci) AS body
         |      FROM c GROUP BY doc_id),
         |e AS (SELECT doc_id, n_paras, n_long,
         |             CASE WHEN body IS NULL
         |                  THEN 'id & <' || CAST(doc_id AS VARCHAR) || '> "x'''
         |                  ELSE body || chr(10) || 'id & <' ||
         |                       CAST(doc_id AS VARCHAR) || '> "x'''
         |             END AS extracted_text
         |      FROM k)
         |SELECT doc_id,
         |       'http://host'||(doc_id % ${Url.HostMod})||'.example/p'||doc_id
         |         AS target_uri,
         |       n_paras + 4 AS n_blocks,
         |       n_long + 1 AS n_kept,
         |       CAST(2 AS BIGINT) AS n_dropped_link,
         |       n_paras - n_long + 1 AS n_dropped_short,
         |       length(extracted_text) AS extracted_chars,
         |       extracted_text
         |FROM e ORDER BY doc_id""".stripMargin
    }),
    QueryDef("src_warc_roundtrip", warcRoundtrip,
      s"""SELECT doc_id,
         |       'http://host'||(doc_id % ${Url.HostMod})||'.example/p'||doc_id
         |         AS target_uri,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
         |       CAST($HeaderCount AS BIGINT) AS n_headers,
         |       TRUE AS payload_match
         |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("snk_warc_dir", warcSinkRoundtrip,
      s"""SELECT doc_id,
         |       'http://host'||(doc_id % ${Url.HostMod})||'.example/p'||doc_id
         |         AS target_uri,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
         |       TRUE AS payload_match,
         |       TRUE AS file_ok
         |FROM documents ORDER BY doc_id""".stripMargin))
}
