package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{DataQuality, Ingest, Multimodal, Silver}
import graft.sources.{JdbcSource, Tables}

class PipelineSpec extends SparkSpec {

  test("timestamp coercion nulls unparseable values and keeps good ones") {
    import spark.implicits._
    val df = Seq(("2024-01-02 03:04:05"), ("garbage"), (null: String))
      .toDF("created_at")
    val out = Silver.coerceTimestamps(df, Seq("created_at")).collect()
    assert(out(0).getAs[java.time.LocalDateTime]("created_at") != null)
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0))
  }

  test("numeric null-fill zeroes every numeric type, leaves strings") {
    import spark.implicits._
    val df = Seq((Some(1.5), Some(2L), "x"), (None, None, null))
      .toDF("d", "l", "s")
    val out = Silver.fillNumericNulls(df).collect()
    assert(out(1).getDouble(0) == 0.0 && out(1).getLong(1) == 0L)
    assert(out(1).isNullAt(2))
  }

  test("scd2 merge keeps history: one closed row per update, keys stable") {
    val cust = Tables.customers(spark, sfDir).select("customer_id", "acctbal")
    val updates = Silver.scd2UpdateBatch(cust)
    val merged = Silver.scd2Merge(cust, updates,
      "customer_id", "acctbal", "new_acctbal").collect()
    val nCust = cust.count()
    val nUpd = updates.count()
    assert(nUpd > 0 && nUpd < nCust)
    assert(merged.length == nCust + nUpd)
    // exactly one current row per key
    val current = merged.filter(_.getAs[Boolean]("is_current"))
    assert(current.length == nCust)
    assert(current.map(_.getAs[Long]("customer_id")).distinct.length == nCust)
    // every updated key: v1 closed with the old value, v2 current +100
    val byKey = merged.groupBy(_.getAs[Long]("customer_id"))
    updates.collect().foreach { u =>
      val k = u.getAs[Long]("customer_id")
      val vs = byKey(k).sortBy(_.getAs[Int]("version"))
      assert(vs.length == 2)
      assert(!vs(0).getAs[Boolean]("is_current") && vs(1).getAs[Boolean]("is_current"))
      assert(vs(1).getAs[Double]("acctbal") == vs(0).getAs[Double]("acctbal") + 100.0)
    }
  }

  test("snapshot diff classifies all four change classes") {
    val d = Silver.snapshotDiffCustomers(spark, sfDir).collect()
    val byClass = d.groupBy(_.getAs[String]("change")).view.mapValues(_.length).toMap
    assert(byClass.keySet == Set("added", "removed", "changed", "unchanged"))
    d.foreach { r =>
      r.getAs[String]("change") match {
        case "added"     => assert(r.isNullAt(1) && !r.isNullAt(2))
        case "removed"   => assert(!r.isNullAt(1) && r.isNullAt(2))
        case "changed"   =>
          assert(r.getDouble(2) == r.getDouble(1) + 100.0)
        case "unchanged" => assert(r.getDouble(1) == r.getDouble(2))
      }
    }
  }

  test("referential integrity passes on clean data, catches planted orphans") {
    import spark.implicits._
    val clean = DataQuality.referentialIntegrity(spark, sfDir).collect()
    assert(clean.length == 3)
    clean.foreach { r =>
      assert(r.getAs[Boolean]("passed") && r.getAs[Long]("orphan_rows") == 0L)
    }
    val fact = Seq((1L, 10L), (2L, 11L), (3L, 99L)).toDF("id", "fk")
    val dim = Seq(10L, 11L).toDF("k")
    val planted = DataQuality.orphanChecks(fact, Seq(("planted", "fk", dim))).head()
    assert(planted.getAs[Long]("orphan_rows") == 1L)
    assert(!planted.getAs[Boolean]("passed"))
  }

  test("schema-evolution merge read null-fills the early batch") {
    val out = Ingest.schemaEvolution(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val even = r.getAs[Long]("doc_id") % 2 == 0
      assert(r.isNullAt(r.fieldIndex("source")) == even)
      assert(r.isNullAt(r.fieldIndex("n_chars")) == even)
      assert(!r.isNullAt(r.fieldIndex("text")))
    }
  }

  test("jdbc reader wires partitioned-extract options") {
    val cfg = JdbcSource.JdbcConfig(
      url = "jdbc:postgresql://host:5432/db", table = "public.customers",
      user = "u", password = "p",
      partitionColumn = Some("customer_id"),
      lowerBound = Some(0L), upperBound = Some(1000000L), numPartitions = 16)
    // builds without connecting; load() would need a live database
    JdbcSource.reader(spark, cfg)
    val opts = JdbcSource.options(cfg)
    assert(opts("dbtable") == "public.customers")
    assert(opts("partitionColumn") == "customer_id")
    assert(opts("numPartitions") == "16")
  }

  test("jdbc limit and predicates push into the remote query") {
    val base = JdbcSource.JdbcConfig(
      url = "jdbc:postgresql://host:5432/db", table = "public.customers",
      user = "u", password = "p")
    assert(JdbcSource.dbtable(base.copy(limit = Some(100))) ==
      "(SELECT * FROM public.customers LIMIT 100) graft_extract")
    assert(JdbcSource.dbtable(base.copy(
      predicates = Seq("status = 'active'", "balance > 0"))) ==
      "(SELECT * FROM public.customers WHERE (status = 'active') AND (balance > 0)) graft_extract")
    assert(JdbcSource.dbtable(base.copy(limit = Some(5),
      predicates = Seq("id > 7"))) ==
      "(SELECT * FROM public.customers WHERE (id > 7) LIMIT 5) graft_extract")
    // the subquery reaches the reader's dbtable option
    assert(JdbcSource.options(base.copy(limit = Some(100)))("dbtable")
      .contains("LIMIT 100"))
  }

  test("jdbc writer mirrors the extract config (options round-trip)") {
    val cfg = JdbcSource.JdbcWriteConfig(
      url = "jdbc:postgresql://host:5432/db", table = "public.gold_daily",
      user = "u", password = "p",
      batchSize = 5000, isolationLevel = "NONE",
      numPartitions = Some(8), truncate = true)
    val opts = JdbcSource.writeOptions(cfg)
    assert(opts("url") == cfg.url && opts("dbtable") == cfg.table)
    assert(opts("batchsize") == "5000")
    assert(opts("isolationLevel") == "NONE")
    assert(opts("numPartitions") == "8")
    assert(opts("truncate") == "true")
    // connection-cap default: numPartitions only appears when set
    assert(!JdbcSource.writeOptions(cfg.copy(numPartitions = None))
      .contains("numPartitions"))
    // builds without connecting; save() would need a live database
    JdbcSource.writer(Tables.table(spark, sfDir, "region"), cfg, "overwrite")
  }

  test("dq business rules all pass on clean testdata") {
    val rules = DataQuality.businessRules(spark, sfDir).collect()
    assert(rules.length == 5)
    assert(rules.forall(_.getAs[Boolean]("passed")))
  }

  test("dq null profile column list matches the live parquet schema") {
    DataQuality.ProfileColumns.foreach { case (t, cols) =>
      val schema = Tables.table(spark, sfDir, t).schema
      assert(cols.map(_._1) == schema.fieldNames.toSeq, s"table $t drifted")
      cols.foreach { case (c, isStr) =>
        assert((schema(c).dataType ==
          org.apache.spark.sql.types.StringType) == isStr, s"$t.$c type")
      }
    }
    // planted check: a frame with known nulls/blanks profiles exactly
    val rows = DataQuality.nullProfile(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_null") == 0L) // clean testdata
      assert(r.getAs[Double]("null_rate") == 0.0)
    }
  }

  test("dq table stats counts match direct counts") {
    val stats = DataQuality.tableStatsQuery(spark, sfDir).collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[Long]("row_count")).toMap
    assert(stats("lineitem") == Tables.table(spark, sfDir, "lineitem").count())
    assert(stats("customer") == Tables.table(spark, sfDir, "customer").count())
  }

  test("approx key profile tracks exact distinct counts within sketch error") {
    val exact = DataQuality.keyProfile(spark, sfDir).collect()
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")) ->
        (r.getAs[Long]("n_distinct"), r.getAs[Boolean]("is_unique_key"))).toMap
    // key columns really profile as unique, a category column as not
    assert(exact(("customer", "c_custkey"))._2)
    assert(!exact(("customer", "c_mktsegment"))._2)
    val approx = DataQuality.keyProfileApprox(spark, sfDir).collect()
    approx.foreach { r =>
      val (ed, _) = exact((r.getAs[String]("table_name"),
        r.getAs[String]("column_name")))
      val ad = r.getAs[Long]("n_distinct")
      assert(math.abs(ad - ed).toDouble <= math.max(5.0, 0.1 * ed),
        s"${r.getAs[String]("table_name")}.${r.getAs[String]("column_name")}: $ad vs $ed")
    }
  }

  test("value skew matches a brute-force concentration recompute") {
    val rows = DataQuality.valueSkew(spark, sfDir).collect()
    // brute-force one key column and one category column
    Seq(("customer", "c_custkey"), ("customer", "c_mktsegment"),
        ("orders", "o_orderstatus")).foreach { case (t, c) =>
      val vals = Tables.table(spark, sfDir, t).select(c).collect()
        .map(r => if (r.isNullAt(0)) null else r.get(0).toString)
        .filter(_ != null)
      val counts = vals.groupBy(identity).map(_._2.length.toLong).toArray
      val n = counts.sum
      val r = rows.find(r => r.getAs[String]("table_name") == t &&
        r.getAs[String]("column_name") == c).get
      assert(r.getAs[Long]("n_values") == n)
      assert(r.getAs[Long]("n_distinct") == counts.length.toLong)
      assert(r.getAs[Double]("top_share") ==
        counts.max.toDouble / n.toDouble)
      assert(r.getAs[Double]("simpson") ==
        counts.map(x => BigDecimal(x) * BigDecimal(x)).sum.toDouble
          / (n.toDouble * n.toDouble))
    }
    // a unique key's Simpson index is exactly 1/n; every index is in
    // [1/n_distinct, 1]
    rows.foreach { r =>
      val s = r.getAs[Double]("simpson")
      assert(s <= 1.0 && s >= 1.0 / r.getAs[Long]("n_distinct").toDouble - 1e-12)
      if (r.getAs[Long]("n_distinct") == r.getAs[Long]("n_values"))
        assert(s == 1.0 / r.getAs[Long]("n_values").toDouble)
    }
  }

  test("approx table stats track exact stats within sketch error") {
    val exact = DataQuality.tableStatsQuery(spark, sfDir).collect()
      .map(r => r.getAs[String]("table_name") ->
        (r.getAs[Long]("row_count"), r.getAs[Long]("duplicate_rows"))).toMap
    val approx = DataQuality
      .tableStatsApprox(spark, sfDir, DataQuality.statsTables).collect()
    approx.foreach { r =>
      val (rows, dups) = exact(r.getAs[String]("table_name"))
      assert(r.getAs[Long]("row_count") == rows)
      // clean testdata: no duplicates; sketch may report a few percent
      assert(r.getAs[Long]("approx_duplicate_rows") <= (rows * 0.05).toLong + dups)
    }
  }

  test("stub media decoder is deterministic and length-consistent") {
    val rec = Multimodal.MediaRecord(7L, "image", "abcdefgh".getBytes("UTF-8"))
    val meta = Multimodal.StubDecoder.decode(rec)
    assert(meta.byte_len == 8 && meta.magic == "61626364")
    assert(meta.frame_count == 8 % 7 + 1)
  }

  test("resize stage fits the target box, preserves aspect, shrinks payload") {
    import spark.implicits._
    val recs = Seq(Multimodal.MediaRecord(1L, "image",
      Array.fill[Byte](1000)(7))).toDS()
    val out = Multimodal.resizeToFit(recs, Multimodal.StubDecoder, 64, 64).head()
    val meta = Multimodal.StubDecoder.decode(recs.head())
    assert(out.width <= 64 && out.height <= 64)
    val aspectIn = meta.width.toDouble / meta.height
    val aspectOut = out.width.toDouble / out.height
    assert(math.abs(aspectIn - aspectOut) / aspectIn < 0.1)
    assert(out.payload.length <= 1000 && out.payload.length >= 1)
  }

  test("media metadata schema carries binary-derived fields for all docs") {
    val out = Multimodal.mediaMeta(spark, sfDir)
    assert(out.schema.fieldNames.toSeq ==
      Seq("doc_id", "media_type", "byte_len", "magic", "format", "width", "height"))
    assert(out.count() == 500)
    // corrupt rows (doc_id % 5 == 0) parse to NULLs, valid rows round-trip
    val rows = out.collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 5 == 0) assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6), s"doc $id")
      else {
        assert(r.getString(4) == (if (id % 2 == 0) "png" else "jpeg"))
        assert(r.getLong(5) == 16 + (id * 7) % 1024)
        assert(r.getLong(6) == 16 + (id * 13) % 768)
      }
    }
  }

  test("media dedup: clusters group identical payloads, canonical is min id") {
    val rows = Multimodal.mediaDedup(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val byCanon = rows.groupBy(_.getAs[Long]("canonical_id"))
    assert(byCanon.exists(_._2.length > 1), "no duplicate payloads at test scale")
    rows.foreach { r =>
      assert(r.getAs[Long]("canonical_id") <= r.getAs[Long]("doc_id"))
      assert(r.getAs[Boolean]("is_dup") ==
        (r.getAs[Long]("doc_id") != r.getAs[Long]("canonical_id")))
      assert(r.getAs[Long]("copies") ==
        byCanon(r.getAs[Long]("canonical_id")).length)
    }
    // every cluster's members share byte_len (same payload ⇒ same length)
    byCanon.values.foreach { g =>
      assert(g.map(_.getAs[Long]("byte_len")).distinct.length == 1)
    }
  }

  test("header parser: PNG IHDR + JPEG SOF round-trip; malformed inputs -> None") {
    import Multimodal.MediaHeaders._
    assert(parse(synthPng(640, 480)) == Some(("png", 640L, 480L)))
    assert(parse(synthJpeg(1920, 1080)) == Some(("jpeg", 1920L, 1080L)))
    // big dims exercise all BE bytes
    assert(parse(synthPng(70000, 3)) == Some(("png", 70000L, 3L)))
    assert(parse(Array.empty[Byte]).isEmpty)
    assert(parse("plain text payload".getBytes("UTF-8")).isEmpty)
    assert(parse(synthPng(10, 10).take(20)).isEmpty)     // truncated IHDR
    assert(parse(synthJpeg(10, 10).take(6)).isEmpty)     // SOI + APP0 stub only
    assert(parse(synthJpeg(10, 10).take(20)).isEmpty)    // truncated before SOF
    // SOI + APP0 but no SOF anywhere
    val noSof = synthJpeg(10, 10).take(20) ++ Array[Byte](0, 0)
    assert(parse(noSof).isEmpty)
    // GIF: little-endian dims — 0x0201 must read 513, not 258
    assert(parse(synthGif(513, 65534)) == Some(("gif", 513L, 65534L)))
    assert(parse(synthGif(1, 1)) == Some(("gif", 1L, 1L)))
    assert(parse(synthGif(10, 10).take(9)).isEmpty)      // truncated descriptor
    assert(parse("GIF90a1234567".getBytes("UTF-8")).isEmpty) // bad version
    assert(parse((0.toByte +: "GIF89a payload".getBytes("UTF-8")).toArray).isEmpty)
  }

  test("audio header parser: WAV chunk walk + MP3 syncsafe skip round-trip; malformed -> None") {
    import Multimodal.MediaHeaders._
    // WAV: canonical layout and a planted LIST chunk (same fields)
    val w = synthWav(2, 44100, 16, 88200, plantList = false)
    assert(parseAudio(w) == Some(("wav", 2L, 44100L, 44100L * 2 * 2 * 8, 500L)))
    val wl = synthWav(1, 8000, 8, 4000, plantList = true)
    assert(wl.length == 56)
    assert(parseAudio(wl) == Some(("wav", 1L, 8000L, 64000L, 500L)))
    // truncated mid-fmt and mid-header
    assert(parseAudio(w.take(20)).isEmpty)
    assert(parseAudio(w.take(11)).isEmpty)
    // data chunk missing entirely
    assert(parseAudio(w.take(36)).isEmpty)
    // MP3: tagless, small tag, and a tag size that exercises all four
    // syncsafe 7-bit groups (0x0204080 = 4210816 > any 3-group value);
    // synth caps at Int so use a representative multi-group size 300
    val m = synthMp3(0, 9, 0, 0, 160) // idx 9 = 128 kbps, 44100, stereo
    assert(parseAudio(m) == Some(("mp3", 2L, 44100L, 128000L, (4L + 160L) * 8 / 128)))
    val mt = synthMp3(300, 14, 2, 3, 997) // idx 14 = 320 kbps, 32000, mono
    assert(mt.length == 14 + 300 + 997)
    assert(parseAudio(mt) == Some(("mp3", 1L, 32000L, 320000L, (4L + 997L) * 8 / 320)))
    // syncsafe means 7 bits per byte: 300 -> groups (0, 0, 300>>7, 300&0x7F)
    assert((mt(6), mt(7), mt(8), mt(9)) == (0.toByte, 0.toByte, 2.toByte, 44.toByte))
    // corrupt / truncated
    assert(parseAudio("plain text".getBytes("UTF-8")).isEmpty)
    assert(parseAudio((0.toByte +: "RIFFWAVE junk".getBytes("UTF-8")).toArray).isEmpty)
    assert(parseAudio(mt.take(12)).isEmpty)                 // inside the tag
    assert(parseAudio(synthMp3(0, 15, 0, 0, 8)).isEmpty)    // reserved bitrate idx
    assert(parseAudio(synthMp3(0, 9, 3, 0, 8)).isEmpty)     // reserved rate idx
  }

  test("video header parser: MP4 box walk + AVI nested-LIST walk round-trip; malformed -> None") {
    import Multimodal.MediaHeaders._
    // MP4: canonical layout and a planted free box (same fields)
    val v = synthMp4(600, 60000, 2, 1920, 1080, plantFree = false)
    assert(v.length == 132 + 200)
    assert(parseVideo(v) == Some(("mp4", 1920L, 1080L, 2L, 100000L)))
    // tkhd dims are 16.16 fixed point: 1920 must serialize as 0x07800000,
    // NOT 0x00000780 (the plain-int bug the parser's >>16 guards against)
    val tkhdW = v.slice(132 + 8 + 84, 132 + 8 + 88).map(_ & 0xFF)
    assert(tkhdW.toSeq == Seq(0x07, 0x80, 0x00, 0x00))
    val vf = synthMp4(1000, 5000, 1, 640, 480, plantFree = true)
    assert(vf.length == 132 + 100 + 12)
    assert(parseVideo(vf) == Some(("mp4", 640L, 480L, 1L, 5000L)))
    // truncated: inside moov, before the first full box header
    assert(parseVideo(v.take(100)).isEmpty)
    assert(parseVideo(v.take(12)).isEmpty)
    // AVI: canonical and a planted JUNK chunk before the hdrl LIST
    val a = synthAvi(40000, 250, 1, 1280, 720, plantJunk = false)
    assert(a.length == 88)
    assert(parseVideo(a) == Some(("avi", 1280L, 720L, 1L, 10000L)))
    val aj = synthAvi(33366, 3000, 2, 320, 240, plantJunk = true)
    assert(aj.length == 100)
    assert(parseVideo(aj) == Some(("avi", 320L, 240L, 2L, 33366L * 3000 / 1000)))
    // zero µs/frame or zero streams -> None (invalid main header)
    assert(parseVideo(synthAvi(0, 10, 1, 64, 64, plantJunk = false)).isEmpty)
    assert(parseVideo(synthAvi(100, 10, 0, 64, 64, plantJunk = false)).isEmpty)
    // corrupt / truncated
    assert(parseVideo("plain text payload here".getBytes("UTF-8")).isEmpty)
    assert(parseVideo((0.toByte +: "RIFFAVI junk".getBytes("UTF-8")).toArray).isEmpty)
    assert(parseVideo(a.take(30)).isEmpty)
  }

  test("RIFF walks survive hostile 32-bit chunk sizes (no throw, no hang)") {
    import Multimodal.MediaHeaders._
    def le32(v: Long): Array[Byte] =
      Array.tabulate(4)(s => ((v >> (8 * s)) & 0xFF).toByte)
    def tag(s: String): Array[Byte] = s.getBytes("US-ASCII")
    // a size ≥ 2^31 narrowed to Int goes negative: the un-guarded walk
    // steps BACKWARDS (out-of-bounds read or infinite loop). The fixed
    // walk must return None, promptly.
    val hostileWav = tag("RIFF") ++ le32(200) ++ tag("WAVE") ++
      tag("JUNK") ++ le32(0xFFFFFFF0L) ++ Array.fill(32)(0.toByte)
    assert(parseWav(hostileWav).isEmpty)
    val hostileAvi = tag("RIFF") ++ le32(200) ++ tag("AVI ") ++
      tag("LIST") ++ le32(100) ++ tag("hdrl") ++
      tag("JUNK") ++ le32(0xFFFFFFF0L) ++ Array.fill(64)(0.toByte)
    assert(parseAvi(hostileAvi).isEmpty)
    // outer AVI chunk with a hostile size before any LIST
    val hostileAvi2 = tag("RIFF") ++ le32(200) ++ tag("AVI ") ++
      tag("JUNK") ++ le32(0x80000008L) ++ Array.fill(32)(0.toByte)
    assert(parseAvi(hostileAvi2).isEmpty)
    // MP4 box sizes are compared in Long before narrowing: hostile too
    val hostileMp4 = le32(0) /* placeholder */ ++ tag("ftyp") ++
      tag("isom") ++ le32(0)
    assert(parseMp4(hostileMp4).isEmpty) // size 0 < 8 -> malformed
  }

  test("audio profile buckets every parsed clip; corrupt rows excluded") {
    val meta = Multimodal.audioMeta(spark, sfDir).collect()
      .filter(!_.isNullAt(4)) // format
      .map(r => (r.getAs[String]("format"),
        r.getAs[Long]("duration_ms") / 1000, r.getAs[Long]("bit_rate")))
    val expect = meta.groupBy { case (f, s, _) => (f, s) }
    val got = Multimodal.audioProfile(spark, sfDir).collect()
    assert(got.map(_.getAs[Long]("n_assets")).sum == meta.length.toLong)
    got.foreach { r =>
      val k = (r.getAs[String]("format"), r.getAs[Long]("duration_s"))
      val e = expect(k)
      assert(r.getAs[Long]("n_assets") == e.length.toLong, s"$k")
      assert(r.getAs[Long]("min_bit_rate") == e.map(_._3).min)
      assert(r.getAs[Long]("max_bit_rate") == e.map(_._3).max)
    }
  }

  test("video profile buckets every parsed clip; corrupt rows excluded") {
    val meta = Multimodal.videoMeta(spark, sfDir).collect()
      .filter(!_.isNullAt(4)) // format
      .map(r => (r.getAs[String]("format"),
        r.getAs[Long]("duration_ms") / 1000,
        r.getAs[Long]("width"), r.getAs[Long]("height")))
    // both container formats parse and both planted-box variants occur
    assert(meta.map(_._1).distinct.sorted.toSeq == Seq("avi", "mp4"))
    val expect = meta.groupBy { case (f, s, _, _) => (f, s) }
    val got = Multimodal.videoProfile(spark, sfDir).collect()
    assert(got.map(_.getAs[Long]("n_assets")).sum == meta.length.toLong)
    got.foreach { r =>
      val k = (r.getAs[String]("format"), r.getAs[Long]("duration_s"))
      val e = expect(k)
      assert(r.getAs[Long]("n_assets") == e.length.toLong, s"$k")
      assert(r.getAs[Long]("max_width") == e.map(_._3).max)
      assert(r.getAs[Long]("max_height") == e.map(_._4).max)
    }
  }

  test("textlines roundtrip preserves every doc id and scrubs delimiters") {
    val out = graft.operators.Ingest.textlinesRoundtrip(spark, sfDir).collect()
    val ids = Tables.table(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.length == ids.size)
    assert(out.map(_.getAs[Long]("doc_id")).toSet == ids)
    out.foreach { r =>
      val t = r.getAs[String]("text")
      assert(!t.contains("\t") && !t.contains("\n") && !t.contains("\r"))
      assert(r.getAs[String]("lang") != null && r.getAs[String]("source") != null)
    }
  }

  test("csv source is permissive on malformed rows (nulls, no crash)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_badcsv")
    java.nio.file.Files.writeString(dir.resolve("part.csv"),
      "n_nationkey,n_name,n_regionkey\n1,ALGERIA,0\nnot_an_int,BADROW,xx\n2,BRAZIL,1\n")
    val schema = StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType)))
    val rows = graft.sources.CsvSource.read(spark, dir.toString, schema)
      .orderBy(col("n_name")).collect()
    assert(rows.length == 3)
    val bad = rows.find(_.getString(1) == "BADROW").get
    assert(bad.isNullAt(0) && bad.isNullAt(2))
  }

  test("csv source reads with explicit schema only") {
    val schema = StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType)))
    val path = s"${sys.props("java.io.tmpdir")}/graft_test_csv"
    graft.sources.CsvSource.write(Tables.table(spark, sfDir, "nation"), path)
    val back = graft.sources.CsvSource.read(spark, path, schema)
    assert(back.schema == schema)
    assert(back.count() == 25)
  }

  test("bronze extract-all writes one timestamped CSV dir per table") {
    val out = java.nio.file.Files.createTempDirectory("graft_bronze").toString
    val ts = java.time.LocalDateTime.of(2026, 1, 10, 12, 30, 45)
    val written = graft.sources.CsvSource.writeAll(
      Map("nation" -> Tables.table(spark, sfDir, "nation"),
        "region" -> Tables.table(spark, sfDir, "region")),
      out, ts)
    // extract.py:64-66 filename contract: {table}_{timestamp}
    assert(written == Map(
      "nation" -> s"$out/nation_20260110_123045",
      "region" -> s"$out/region_20260110_123045"))
    val dirs = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(dirs == Set("nation_20260110_123045", "region_20260110_123045"))
    // each dir is real headered CSV, read back by the bronze reader
    val schema = StructType(Seq(StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    assert(graft.sources.CsvSource.read(spark, written("region"), schema)
      .count() == 5)
  }

  test("inventory and sales_managers mapped views follow the star schema") {
    import org.apache.spark.sql.functions._
    val inv = Tables.inventory(spark, sfDir)
    // one row per (store, product) pair ever sold; units reconcile with
    // the fact table's total quantity
    assert(inv.groupBy("store_id", "product_id").count()
      .where(col("count") > 1).count() == 0)
    val factQty = Tables.sales(spark, sfDir)
      .agg(sum("quantity")).head().getLong(0)
    assert(inv.agg(sum("units_sold")).head().getLong(0) == factQty)
    val mgr = Tables.salesManagers(spark, sfDir)
    assert(mgr.count() == 25) // one manager per nation
    assert(mgr.select("region").distinct().count() == 5)
  }

  test("media corrupt rate rolls up decode failures exactly") {
    // image AND audio AND video feeds flow into the one gate
    val meta = Multimodal.mediaMeta(spark, sfDir)
        .select("media_type", "format", "byte_len").collect() ++
      Multimodal.audioMeta(spark, sfDir)
        .select("media_type", "format", "byte_len").collect() ++
      Multimodal.videoMeta(spark, sfDir)
        .select("media_type", "format", "byte_len").collect()
    val got = Multimodal.corruptRate(spark, sfDir).collect()
      .map(r => r.getAs[String]("media_type") ->
        (r.getAs[Long]("n_records"), r.getAs[Long]("n_corrupt"),
          r.getAs[Long]("total_bytes"), r.getAs[Double]("corrupt_rate"))).toMap
    val exp = meta.groupBy(_.getAs[String]("media_type"))
    assert(got.keySet == exp.keySet)
    exp.foreach { case (t, rows) =>
      val corrupt = rows.count(_.isNullAt(rows.head.fieldIndex("format")))
      val (n, nc, tb, rate) = got(t)
      assert(n == rows.length.toLong)
      assert(nc == corrupt.toLong)
      assert(nc > 0, "the synthesized corpus plants corrupt payloads")
      assert(tb == rows.map(_.getAs[Long]("byte_len")).sum)
      assert(rate == corrupt.toDouble / rows.length.toDouble)
    }
  }

  test("resolution histogram covers every parseable asset, ranges in-bucket") {
    val hist = Multimodal.resolutionHist(spark, sfDir).collect()
    val meta = Multimodal.mediaMeta(spark, sfDir).collect()
      .filterNot(_.isNullAt(4)) // format column
    assert(hist.map(_.getAs[Long]("n_assets")).sum == meta.length.toLong)
    hist.foreach { r =>
      assert(r.getAs[Long]("width_lo") ==
        r.getAs[Long]("wbucket") * Multimodal.ResolutionBucket)
      assert(r.getAs[Long]("min_height") <= r.getAs[Long]("max_height"))
    }
  }

  test("frame dedup: classes are real duplicates with a member canonical") {
    val classes = Multimodal.frameDedup(spark, sfDir).collect()
    assert(classes.nonEmpty, "the synthetic corpus plants colliding frames")
    // rebuild per-frame fingerprints from the frame sample surface
    val frames = Multimodal.frameSamples(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")))
    classes.foreach { c =>
      assert(c.getAs[Long]("n_frames") >= 2)
      assert(c.getAs[Long]("n_docs") <= c.getAs[Long]("n_frames"))
      val canon = (c.getAs[Long]("canon_doc_id"), c.getAs[Long]("canon_frame_idx"))
      assert(frames.contains(canon), s"canonical $canon must be a real frame")
    }
    // duplicate classes can never exceed total frames / 2
    assert(classes.map(_.getAs[Long]("n_frames")).sum <= frames.length)
  }

  test("frame neardup: exact parity with the brute-force all-pairs scan " +
      "(recall 1.0 AND precision 1.0 — the rows-only CI license)") {
    val got = Multimodal.frameNearDup(spark, sfDir).collect()
      .map(r => ((r.getAs[Long]("a_doc"), r.getAs[Long]("a_frame"),
        r.getAs[Long]("b_doc"), r.getAs[Long]("b_frame")),
        r.getAs[Double]("cosine"))).toMap
    // brute force over the same perceptual features
    val feats = Multimodal.perceptualFrames(spark, sfDir).collect()
      .map(r => ((r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")),
        r.getAs[scala.collection.Seq[Double]]("embedding").toArray))
      .sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for {
      i <- feats.indices.iterator
      j <- (i + 1) until feats.length
      c = cos(feats(i)._2, feats(j)._2)
      if c >= Multimodal.FrameNearDupCos
    } yield ((feats(i)._1._1, feats(i)._1._2, feats(j)._1._1, feats(j)._1._2), c)).toMap
    assert(want.nonEmpty, "the corpus plants re-encode twins")
    assert(got.keySet == want.keySet,
      s"LSH pair set diverged: missed=${(want.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- want.keySet).take(3)}")
    got.foreach { case (k, c) => assert(math.abs(c - want(k)) < 1e-9) }
    // every PLANTED twin frame pair is found at cosine ≈ 1 (the
    // operator's recall contract on the ground truth; a handful of
    // non-twin pairs genuinely at ≥ the 0.999 boundary are legitimate
    // output — the keySet parity above already proves each one against
    // the brute-force scan)
    val frameCounts = feats.groupBy(_._1._1).map { case (d, v) => d -> v.length }
    val twinPairs = frameCounts.keys.toSeq
      .filter(d => d % Multimodal.FrameTwinMod == 1 && frameCounts.contains(d - 1))
      .flatMap { d =>
        (0 until math.min(frameCounts(d), frameCounts(d - 1)))
          .map(f => (d - 1, f.toLong, d, f.toLong))
      }
    assert(twinPairs.nonEmpty)
    twinPairs.foreach { p =>
      assert(got.contains(p), s"planted twin pair missed: $p")
      assert(got(p) > 0.99999, s"twin pair $p cosine ${got(p)} not ≈ 1")
    }
  }

  test("daily error rate: counters reconcile, rate on the integer grid") {
    val rows = DataQuality.errorRate(spark, sfDir).collect()
    val e = graft.sources.Tables.events(spark, sfDir)
    assert(rows.map(_.getAs[Long]("n_events")).sum == e.count())
    assert(rows.map(_.getAs[Long]("n_errors")).sum ==
      e.where(col("event_type") === "error").count())
    rows.foreach { r =>
      val rate = r.getAs[Double]("err_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      // the rate sits on the 1e-5 integer grid (mod double representation)
      assert(math.abs(rate * 100000 - math.round(rate * 100000)) < 1e-6)
      assert(rate <= r.getAs[Long]("n_errors").toDouble /
        r.getAs[Long]("n_events") + 1e-5)
    }
  }

  test("temporal integrity: rule counts replay a brute-force scan") {
    val rows = DataQuality.temporalIntegrity(spark, sfDir).collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_violations"), r.getAs[Long]("n_lines"))).toMap
    assert(rows.keySet == Set("ship_before_order", "ship_over_year_late"))
    val j = graft.sources.Tables.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("s"))
      .join(graft.sources.Tables.table(spark, sfDir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("p")),
        col("l_orderkey") === col("o_orderkey"))
    val n = j.count()
    assert(rows.values.forall(_._2 == n))
    assert(rows("ship_before_order")._1 == j.where(col("s") < col("p")).count())
    assert(rows("ship_over_year_late")._1 ==
      j.where(datediff(col("s"), col("p")) > 365).count())
  }

  test("order reconciliation: counts partition orders, drift bounds sane") {
    val r = DataQuality.orderReconciliation(spark, sfDir).head()
    val nOrders = r.getAs[Long]("n_orders")
    assert(nOrders ==
      graft.sources.Tables.table(spark, sfDir, "orders").count())
    assert(r.getAs[Long]("n_matched") + r.getAs[Long]("n_mismatched") == nOrders)
    assert(r.getAs[Double]("max_abs_drift") <= r.getAs[Double]("total_abs_drift"))
    val rate = r.getAs[Double]("match_rate")
    assert(rate >= 0.0 && rate <= 1.0)
  }
}
