package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Multimodal column handling: media payloads ride along as opaque
  * `binary` columns with typed metadata, processed per-partition through
  * a pluggable decoder.
  *
  * The decode step is a DETERMINISTIC STUB (no codec libraries in this
  * container) — but the Spark plumbing is real: binary columns in
  * parquet, a typed Dataset schema, partition-parallel `mapPartitions`
  * with a serializable decoder (exactly where an image/audio codec JNI
  * call would sit), and metadata that downstream queries filter on
  * without touching payload bytes.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])
  final case class MediaMeta(
      doc_id: Long, media_type: String, byte_len: Long, magic: String,
      frame_count: Long, width: Long, height: Long)

  /** Upper-case hex of the first 4 payload BYTES, the `magic` column of
    * every decoder (the oracles mirror it via substring(hex(blob))). */
  private def magicHex(payload: Array[Byte]): String =
    payload.take(4).map(b => f"${b & 0xFF}%02X").mkString

  /** The decode seam: swap `StubDecoder` for a real codec in prod. */
  trait MediaDecoder extends Serializable {
    def decode(rec: MediaRecord): MediaMeta
  }

  /** Deterministic fake decode: metadata derived only from payload
    * bytes, so results are reproducible and oracle-checkable. */
  object StubDecoder extends MediaDecoder {
    def decode(r: MediaRecord): MediaMeta = {
      val len = r.payload.length.toLong
      val magic = magicHex(r.payload)
      MediaMeta(r.doc_id, r.media_type, len, magic,
        frame_count = len % 7 + 1,
        width = 64 + len % 640,
        height = 64 + len % 360)
    }
  }

  /** Real container-header parsing — pure-JVM magic-number decode of
    * PNG (IHDR) and JPEG (SOF0-3 after marker-segment skipping), no
    * codec libraries. This is the part of "decode" a metadata pass
    * actually needs at ingest: dimensions and format validation from
    * the first bytes, payload never decompressed. Corrupt or unknown
    * payloads parse to None (→ NULL columns), never throw. */
  object MediaHeaders {
    private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte)

    /** Big-endian unsigned int of `n` bytes at `off`. */
    private def be(p: Array[Byte], off: Int, n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | (p(off + i) & 0xFFL); i += 1 }
      v
    }

    /** (format, width, height) or None. */
    def parse(p: Array[Byte]): Option[(String, Long, Long)] =
      parsePng(p).orElse(parseJpeg(p)).orElse(parseGif(p))

    /** GIF: "GIF87a"/"GIF89a" signature, then the logical screen
      * descriptor's 2-byte LITTLE-endian width and height — the
      * endianness twin of PNG's big-endian IHDR (a parser that gets
      * byte order wrong passes one format and garbles the other). */
    def parseGif(p: Array[Byte]): Option[(String, Long, Long)] =
      if (p.length >= 10 &&
          p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8' &&
          (p(4) == '7' || p(4) == '9') && p(5) == 'a')
        Some(("gif",
          (p(6) & 0xFFL) | ((p(7) & 0xFFL) << 8),
          (p(8) & 0xFFL) | ((p(9) & 0xFFL) << 8)))
      else None

    /** Minimal GIF89a header (13 bytes): signature + LE dims + packed
      * fields/background/aspect zeroed. */
    def synthGif(w: Long, h: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(13)
      "GIF89a".foreach(c => out.write(c.toInt))
      out.write((w & 0xFF).toInt); out.write(((w >> 8) & 0xFF).toInt)
      out.write((h & 0xFF).toInt); out.write(((h >> 8) & 0xFF).toInt)
      out.write(0); out.write(0); out.write(0)
      out.toByteArray
    }

    /** PNG: 8-byte signature, then the IHDR chunk (must be first per
      * spec): 4-byte length, "IHDR", 4-byte BE width, 4-byte BE
      * height. CRC not validated — this is a header sniff, not an
      * integrity check. */
    def parsePng(p: Array[Byte]): Option[(String, Long, Long)] =
      if (p.length >= 24 &&
          (0 until 8).forall(i => p(i) == PngSig(i)) &&
          p(12) == 'I' && p(13) == 'H' && p(14) == 'D' && p(15) == 'R')
        Some(("png", be(p, 16, 4), be(p, 20, 4)))
      else None

    /** JPEG: SOI (FFD8), then marker segments skipped by their 2-byte
      * lengths until a SOF0-3 frame header (FFC0-FFC3): precision(1),
      * height(2 BE), width(2 BE). Standalone markers (RSTn/TEM) have
      * no length field. Truncated/malformed streams return None. */
    def parseJpeg(p: Array[Byte]): Option[(String, Long, Long)] = {
      if (p.length < 4 || (p(0) & 0xFF) != 0xFF || (p(1) & 0xFF) != 0xD8)
        return None
      var i = 2
      while (i + 3 < p.length) {
        if ((p(i) & 0xFF) != 0xFF) return None
        val m = p(i + 1) & 0xFF
        if (m == 0x01 || (m >= 0xD0 && m <= 0xD8)) i += 2
        else {
          val len = be(p, i + 2, 2).toInt
          if (len < 2 || i + 2 + len > p.length) return None
          if (m >= 0xC0 && m <= 0xC3) {
            if (len < 9) return None
            return Some(("jpeg", be(p, i + 7, 2), be(p, i + 5, 2)))
          }
          i += 2 + len
        }
      }
      None
    }

    /** Little-endian unsigned int of `n` bytes at `off`. */
    private def le(p: Array[Byte], off: Int, n: Int): Long = {
      var v = 0L
      var i = n - 1
      while (i >= 0) { v = (v << 8) | (p(off + i) & 0xFFL); i -= 1 }
      v
    }

    /** MPEG1 Layer III bitrate table (kbps), indices 1-14. */
    private[graft] val Mp3Bitrates =
      Array(32L, 40L, 48L, 56L, 64L, 80L, 96L, 112L, 128L, 160L, 192L, 224L, 256L, 320L)
    /** MPEG1 sampling-rate table, indices 0-2. */
    private[graft] val Mp3Rates = Array(44100L, 48000L, 32000L)

    /** (format, channels, sample_rate, bit_rate bps, duration_ms) or
      * None — the audio twins of the image parsers. */
    def parseAudio(p: Array[Byte]): Option[(String, Long, Long, Long, Long)] =
      parseWav(p).orElse(parseMp3(p))

    /** WAV: "RIFF" + LE chunk size + "WAVE", then a RIFF chunk WALK
      * (id + 4-byte LE size, odd sizes padded to word boundaries) to
      * the `fmt ` fields and the `data` declared size — real WAVs
      * carry LIST/INFO chunks before `fmt `, so a fixed-44-byte-layout
      * parser garbles them. Duration derives from the AUTHORITATIVE
      * declared data size over the byte rate (the data chunk may
      * extend past a header-only sniff window). */
    def parseWav(p: Array[Byte]): Option[(String, Long, Long, Long, Long)] = {
      if (p.length < 12 ||
          p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
          p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E')
        return None
      var i = 12
      var channels = -1L; var rate = -1L; var byteRate = -1L; var dataSize = -1L
      while (i + 8 <= p.length && dataSize < 0) {
        val id = new String(p, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = le(p, i + 4, 4)
        // Long skip arithmetic: a hostile 32-bit chunk size (≥ 2³¹)
        // truncated to Int goes negative and walks i backwards —
        // "never throw" means bounds-check BEFORE narrowing. A skipped
        // chunk whose body leaves the sniff window ends the walk (the
        // `data` branch below is exempt: its declared size may
        // legitimately extend past the window).
        val skip = 8L + size + (size & 1L)
        if (id == "fmt " && size >= 16 && i + 24 <= p.length) {
          channels = le(p, i + 10, 2)
          rate = le(p, i + 12, 4)
          byteRate = le(p, i + 16, 4)
          if (i + skip > p.length) return None
          i += skip.toInt
        } else if (id == "data") dataSize = size
        else {
          if (i + skip > p.length) return None
          i += skip.toInt
        }
      }
      if (channels > 0 && rate > 0 && byteRate > 0 && dataSize >= 0)
        Some(("wav", channels, rate, byteRate * 8, dataSize * 1000 / byteRate))
      else None
    }

    /** MP3: an ID3v2 tag ("ID3" + version + flags + 4-byte SYNCSAFE
      * size — 7 bits per byte, the classic off-by-tag-length bug) is
      * skipped to the first MPEG frame header: 11 sync bits, version
      * (MPEG1), layer (III), bitrate + sampling-rate table indices,
      * channel mode. Duration is the standard CBR estimate —
      * post-tag bytes × 8 / bitrate. Bare (tagless) streams parse
      * from offset 0. */
    def parseMp3(p: Array[Byte]): Option[(String, Long, Long, Long, Long)] = {
      val off =
        if (p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3')
          10 + (((p(6) & 0x7F) << 21) | ((p(7) & 0x7F) << 14) |
            ((p(8) & 0x7F) << 7) | (p(9) & 0x7F))
        else 0
      if (off + 4 > p.length) return None
      val b1 = p(off + 1) & 0xFF
      if ((p(off) & 0xFF) != 0xFF || (b1 & 0xE0) != 0xE0) return None
      if ((b1 >> 3 & 3) != 3 || (b1 >> 1 & 3) != 1) return None // MPEG1 Layer III
      val b2 = p(off + 2) & 0xFF
      val bi = (b2 >> 4) & 0xF
      val si = (b2 >> 2) & 3
      if (bi < 1 || bi > 14 || si > 2) return None
      val kbps = Mp3Bitrates(bi - 1)
      val channels = if (((p(off + 3) & 0xFF) >> 6 & 3) == 3) 1L else 2L
      val audioBytes = (p.length - off).toLong
      Some(("mp3", channels, Mp3Rates(si), kbps * 1000L, audioBytes * 8 / kbps))
    }

    /** Canonical 44-byte WAV header (declared data size only — the
      * data chunk body is elsewhere, as in a header sniff window);
      * `plantList` inserts a LIST/INFO chunk before `fmt ` to exercise
      * the chunk walk (56 bytes). */
    def synthWav(channels: Long, rate: Long, bits: Long, dataSize: Long,
        plantList: Boolean): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(56)
      def tag(s: String): Unit = s.foreach(c => out.write(c.toInt))
      def le16(v: Long): Unit =
        (0 to 1).foreach(s => out.write(((v >> (8 * s)) & 0xFF).toInt))
      def le32(v: Long): Unit =
        (0 to 3).foreach(s => out.write(((v >> (8 * s)) & 0xFF).toInt))
      val byteRate = rate * channels * (bits / 8)
      tag("RIFF"); le32(36 + (if (plantList) 12 else 0) + dataSize); tag("WAVE")
      if (plantList) { tag("LIST"); le32(4); tag("INFO") }
      tag("fmt "); le32(16)
      le16(1); le16(channels); le32(rate); le32(byteRate)
      le16(channels * (bits / 8)); le16(bits)
      tag("data"); le32(dataSize)
      out.toByteArray
    }

    /** ID3v2.3-tagged MP3: 10-byte tag header with syncsafe `tagPad`,
      * `tagPad` zero bytes, one MPEG1-Layer-III frame header with the
      * given bitrate/rate/mode indices, `bodyLen` zero audio bytes. */
    def synthMp3(tagPad: Long, bitrateIdx: Int, rateIdx: Int, mode: Int,
        bodyLen: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(14 + tagPad.toInt + bodyLen.toInt)
      "ID3".foreach(c => out.write(c.toInt))
      out.write(3); out.write(0); out.write(0) // v2.3.0, no flags
      Seq(21, 14, 7, 0).foreach(s => out.write(((tagPad >> s) & 0x7F).toInt))
      (0L until tagPad).foreach(_ => out.write(0))
      out.write(0xFF); out.write(0xFB) // sync + MPEG1 + Layer III + no CRC
      out.write((bitrateIdx << 4) | (rateIdx << 2))
      out.write(mode << 6)
      (0L until bodyLen).foreach(_ => out.write(0))
      out.toByteArray
    }

    /** (format, width, height, n_tracks, duration_ms) or None — the
      * video twins of the image/audio parsers. */
    def parseVideo(p: Array[Byte]): Option[(String, Long, Long, Long, Long)] =
      parseMp4(p).orElse(parseAvi(p))

    /** MP4/ISO-BMFF: a BOX WALK over (4-byte BE size, 4-byte type)
      * frames — the first box must be `ftyp`; planted `free` boxes
      * before `moov` break fixed-offset parsers — then into `moov` for
      * the version-0 `mvhd` movie header (timescale/duration at BE
      * offsets 20/24) and into each `trak` for the `tkhd` dims, stored
      * as 16.16 FIXED POINT (the classic mp4 bug: reading them as
      * plain 32-bit ints inflates dims 65536×). Duration is
      * mvhd duration·1000/timescale; malformed sizes return None. */
    def parseMp4(p: Array[Byte]): Option[(String, Long, Long, Long, Long)] = {
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      if (p.length < 16 ||
          p(4) != 'f' || p(5) != 't' || p(6) != 'y' || p(7) != 'p')
        return None
      var timescale = -1L; var duration = -1L
      var w = -1L; var h = -1L; var tracks = 0L
      var i = 0
      while (i + 8 <= p.length) {
        val size = be(p, i, 4)
        if (size < 8 || i + size > p.length) return None
        if (new String(p, i + 4, 4, ascii) == "moov") {
          var c = i + 8
          val end = i + size.toInt
          while (c + 8 <= end) {
            val cs = be(p, c, 4)
            if (cs < 8 || c + cs > end) return None
            val ct = new String(p, c + 4, 4, ascii)
            // first-wins, matching the tkhd `w < 0` guard: a second
            // moov/mvhd must not overwrite timescale/duration while
            // width keeps the first trak's value (mixed-header fields)
            if (ct == "mvhd" && c + 28 <= end && (p(c + 8) & 0xFF) == 0 &&
                timescale < 0) {
              timescale = be(p, c + 20, 4); duration = be(p, c + 24, 4)
            } else if (ct == "trak") {
              tracks += 1
              var t = c + 8
              val tend = c + cs.toInt
              while (t + 8 <= tend) {
                val ts = be(p, t, 4)
                if (ts < 8 || t + ts > tend) return None
                if (new String(p, t + 4, 4, ascii) == "tkhd" &&
                    t + 92 <= tend && (p(t + 8) & 0xFF) == 0 && w < 0) {
                  w = be(p, t + 84, 4) >> 16; h = be(p, t + 88, 4) >> 16
                }
                t += ts.toInt
              }
            }
            c += cs.toInt
          }
        }
        i += size.toInt
      }
      if (timescale > 0 && duration >= 0 && w >= 0 && tracks > 0)
        Some(("mp4", w, h, tracks, duration * 1000 / timescale))
      else None
    }

    /** AVI: RIFF-LE again, but with NESTED lists — `RIFF('AVI ')` →
      * `LIST('hdrl')` → the `avih` main header (µs/frame, total
      * frames, stream count, dims at LE offsets 0/16/24/32/36 of the
      * chunk body). A parser that skips LIST chunks whole (correct
      * for WAV's flat INFO list) never finds `avih`; planted `JUNK`
      * chunks before the list break fixed offsets. Duration is the
      * container-authoritative µs/frame × frames. */
    def parseAvi(p: Array[Byte]): Option[(String, Long, Long, Long, Long)] = {
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      if (p.length < 12 ||
          p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
          p(8) != 'A' || p(9) != 'V' || p(10) != 'I' || p(11) != ' ')
        return None
      var i = 12
      while (i + 8 <= p.length) {
        val id = new String(p, i, 4, ascii)
        val size = le(p, i + 4, 4)
        if (id == "LIST" && i + 12 <= p.length &&
            new String(p, i + 8, 4, ascii) == "hdrl") {
          var c = i + 12
          val end = math.min(p.length.toLong, i + 8 + size).toInt
          while (c + 8 <= end) {
            val cs = le(p, c + 4, 4)
            if (new String(p, c, 4, ascii) == "avih" && cs >= 56 &&
                c + 64 <= end) {
              val usf = le(p, c + 8, 4)
              val frames = le(p, c + 24, 4)
              val streams = le(p, c + 32, 4)
              if (usf > 0 && streams > 0)
                return Some(("avi", le(p, c + 40, 4), le(p, c + 44, 4),
                  streams, usf * frames / 1000))
              else return None
            }
            // Long skip arithmetic — see parseWav: a hostile 32-bit
            // size narrowed to Int walks c backwards forever
            val cskip = 8L + cs + (cs & 1L)
            if (c + cskip > end) return None
            c += cskip.toInt
          }
          return None
        }
        val skip = 8L + size + (size & 1L)
        if (i + skip > p.length) return None
        i += skip.toInt
      }
      None
    }

    /** Minimal ISO-BMFF file: 16-byte `ftyp(isom)`, an optional
      * planted 12-byte `free` box, and a `moov` holding a version-0
      * `mvhd` (108 bytes) plus `nTracks` `trak(tkhd)` boxes (100 bytes
      * each, dims as 16.16 fixed point). 132+100·n bytes (+12). */
    def synthMp4(timescale: Long, duration: Long, nTracks: Long, w: Long,
        h: Long, plantFree: Boolean): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(244)
      def tag(s: String): Unit = s.foreach(c => out.write(c.toInt))
      def be32(v: Long): Unit =
        (3 to 0 by -1).foreach(s => out.write(((v >> (8 * s)) & 0xFF).toInt))
      def zeros(n: Int): Unit = (0 until n).foreach(_ => out.write(0))
      be32(16); tag("ftyp"); tag("isom"); be32(0)
      if (plantFree) { be32(12); tag("free"); be32(0) }
      be32(8 + 108 + nTracks * 100); tag("moov")
      be32(108); tag("mvhd"); be32(0) // version 0 + flags
      be32(0); be32(0)                // creation, modification
      be32(timescale); be32(duration)
      be32(0x00010000L); out.write(1); out.write(0) // rate 1.0, volume 1.0
      zeros(10); zeros(36); zeros(24) // reserved, matrix, pre_defined
      be32(nTracks + 1)               // next_track_ID
      (1L to nTracks).foreach { tid =>
        be32(100); tag("trak")
        be32(92); tag("tkhd"); be32(0)
        be32(0); be32(0); be32(tid); be32(0); be32(duration)
        zeros(16); zeros(36)          // reserved+layer/alt/vol, matrix
        be32(w << 16); be32(h << 16)
      }
      out.toByteArray
    }

    /** Minimal AVI: `RIFF('AVI ')`, an optional planted 12-byte `JUNK`
      * chunk, and `LIST('hdrl')` holding the 56-byte `avih` main
      * header. 88 bytes (+12 with the JUNK chunk). */
    def synthAvi(usPerFrame: Long, frames: Long, streams: Long, w: Long,
        h: Long, plantJunk: Boolean): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(100)
      def tag(s: String): Unit = s.foreach(c => out.write(c.toInt))
      def le32(v: Long): Unit =
        (0 to 3).foreach(s => out.write(((v >> (8 * s)) & 0xFF).toInt))
      tag("RIFF"); le32(4 + (if (plantJunk) 12 else 0) + 76); tag("AVI ")
      if (plantJunk) { tag("JUNK"); le32(4); le32(0) }
      tag("LIST"); le32(4 + 64); tag("hdrl")
      tag("avih"); le32(56)
      le32(usPerFrame); le32(0); le32(0); le32(0) // µs/frame, rate, pad, flags
      le32(frames); le32(0); le32(streams); le32(0)
      le32(w); le32(h)
      (0 until 16).foreach(_ => out.write(0))     // reserved
      out.toByteArray
    }

    /** Minimal valid PNG header (33 bytes): signature + IHDR with the
      * given dims (8-bit RGBA, zeroed CRC). */
    def synthPng(w: Long, h: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(33)
      out.write(PngSig, 0, 8)
      def be32(v: Long): Unit = (3 to 0 by -1)
        .foreach(s => out.write(((v >> (8 * s)) & 0xFF).toInt))
      be32(13)
      "IHDR".foreach(c => out.write(c.toInt))
      be32(w); be32(h)
      out.write(8); out.write(6); out.write(0); out.write(0); out.write(0)
      be32(0) // CRC (unvalidated by the sniffer)
      out.toByteArray
    }

    /** Minimal JPEG header (39 bytes): SOI + JFIF APP0 (exercises the
      * segment-skip path) + SOF0 with the given dims, 3 components. */
    def synthJpeg(w: Long, h: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(39)
      def b(vs: Int*): Unit = vs.foreach(out.write)
      b(0xFF, 0xD8)                                   // SOI
      b(0xFF, 0xE0, 0x00, 0x10)                       // APP0, len 16
      b('J', 'F', 'I', 'F', 0, 1, 2, 0, 0, 1, 0, 1, 0, 0) // JFIF 1.2
      b(0xFF, 0xC0, 0x00, 0x11, 8)                    // SOF0, len 17, prec 8
      b(((h >> 8) & 0xFF).toInt, (h & 0xFF).toInt)
      b(((w >> 8) & 0xFF).toInt, (w & 0xFF).toInt)
      b(3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)        // 3 components
      out.toByteArray
    }
  }

  final case class HeaderMeta(
      doc_id: Long, media_type: String, byte_len: Long, magic: String,
      format: Option[String], width: Option[Long], height: Option[Long])

  /** The real-decode seam: container headers parsed from payload
    * bytes; corrupt payloads map to NULL format/dims. */
  object HeaderDecoder extends Serializable {
    def decode(r: MediaRecord): HeaderMeta = {
      val magic = magicHex(r.payload)
      MediaHeaders.parse(r.payload) match {
        case Some((fmt, w, h)) => HeaderMeta(r.doc_id, r.media_type,
          r.payload.length.toLong, magic, Some(fmt), Some(w), Some(h))
        case None => HeaderMeta(r.doc_id, r.media_type,
          r.payload.length.toLong, magic, None, None, None)
      }
    }
  }

  /** Contract query: a synthesized media corpus — real PNG/JPEG headers
    * carrying doc_id-derived dimensions, with every 5th payload
    * corrupted (raw text bytes) — decoded back through the REAL header
    * parser. The oracle recomputes the expected dims from doc_id
    * arithmetic, so a parser bug (wrong offset, endianness, missed
    * segment skip) breaks the hash match; corrupt rows must come back
    * as NULLs. Payload bytes never leave the executors. */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    recs.mapPartitions(_.map { case (id, text) =>
      val declared = if (id % 2 == 0) "png" else "jpeg"
      val (w, h) = (16 + (id * 7) % 1024, 16 + (id * 13) % 768)
      val payload =
        if (id % 5 == 0) text.getBytes("UTF-8") // corrupt: declared ≠ bytes
        else if (id % 2 == 0) MediaHeaders.synthPng(w, h)
        else MediaHeaders.synthJpeg(w, h)
      MediaRecord(id, declared, payload)
    }).mapPartitions(_.map(HeaderDecoder.decode))
      .toDF().orderBy("doc_id")
  }

  /** Contract query: GIF metadata decode — the LITTLE-endian twin of
    * [[mediaMeta]]'s PNG/JPEG pass: real `GIF89a` headers carrying
    * doc_id-derived dims through [[MediaHeaders.parseGif]], with every
    * 7th payload corrupted (a 0x00 byte + raw text — can never match
    * any signature by construction). The oracle recomputes expected
    * dims from doc_id arithmetic, so a byte-order bug (the classic GIF
    * vs PNG mistake) breaks the hash match; corrupt rows must come
    * back as NULLs. Payload bytes never leave the executors. */
  def gifMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    recs.mapPartitions(_.map { case (id, text) =>
      val (w, h) = (8 + (id * 5) % 512, 8 + (id * 11) % 256)
      val payload =
        if (id % 7 == 0) (0.toByte +: text.getBytes("UTF-8")).toArray
        else MediaHeaders.synthGif(w, h)
      MediaRecord(id, "gif", payload)
    }).mapPartitions(_.map(HeaderDecoder.decode))
      .toDF().orderBy("doc_id")
  }

  final case class AudioHeaderMeta(
      doc_id: Long, media_type: String, byte_len: Long, magic: String,
      format: Option[String], channels: Option[Long],
      sample_rate: Option[Long], bit_rate: Option[Long],
      duration_ms: Option[Long])

  /** The audio-decode seam: container headers parsed from payload
    * bytes; corrupt payloads map to NULL format/fields. */
  object AudioHeaderDecoder extends Serializable {
    def decode(r: MediaRecord): AudioHeaderMeta = {
      val magic = magicHex(r.payload)
      MediaHeaders.parseAudio(r.payload) match {
        case Some((fmt, ch, rate, bps, ms)) => AudioHeaderMeta(r.doc_id,
          r.media_type, r.payload.length.toLong, magic,
          Some(fmt), Some(ch), Some(rate), Some(bps), Some(ms))
        case None => AudioHeaderMeta(r.doc_id, r.media_type,
          r.payload.length.toLong, magic, None, None, None, None, None)
      }
    }
  }

  /** `mm_audio_meta`: audio metadata decode — the audio twin of
    * [[mediaMeta]]: real RIFF-LE WAV headers (every 4th with a planted
    * LIST chunk, so a fixed-offset parser fails the gate) and
    * ID3v2-tagged MPEG1-Layer-III MP3 frame headers carrying
    * doc_id-derived parameters, parsed back through
    * [[MediaHeaders.parseAudio]]; every 5th payload is corrupted
    * (0x00-prefixed text — matches no signature) → NULLs. The oracle
    * recomputes channels/rate/bitrate/duration from the synthesis
    * arithmetic (bitrate through the same MPEG table as a literal
    * list), so a syncsafe-size, endianness, chunk-walk or table bug
    * breaks the hash. Payload bytes never leave the executors. */
  def audioMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    recs.mapPartitions(_.map { case (id, text) =>
      val declared = if (id % 2 == 0) "wav" else "mp3"
      val payload =
        if (id % 5 == 0) (0.toByte +: text.getBytes("UTF-8")).toArray
        else if (id % 2 == 0)
          MediaHeaders.synthWav(1 + (id / 2) % 2, 8000 + (id * 37) % 40000,
            8 * (1 + (id / 4) % 2), (id * 53) % 100000, id % 8 == 2)
        else
          MediaHeaders.synthMp3((id * 31) % 2000, (1 + id % 14).toInt,
            (id % 3).toInt, (id % 4).toInt, (id * 29) % 997)
      MediaRecord(id, declared, payload)
    }).mapPartitions(_.map(AudioHeaderDecoder.decode))
      .toDF().orderBy("doc_id")
  }

  final case class VideoHeaderMeta(
      doc_id: Long, media_type: String, byte_len: Long, magic: String,
      format: Option[String], width: Option[Long], height: Option[Long],
      n_tracks: Option[Long], duration_ms: Option[Long])

  /** The video-decode seam: container headers parsed from payload
    * bytes; corrupt payloads map to NULL format/fields. */
  object VideoHeaderDecoder extends Serializable {
    def decode(r: MediaRecord): VideoHeaderMeta = {
      val magic = magicHex(r.payload)
      MediaHeaders.parseVideo(r.payload) match {
        case Some((fmt, w, h, tracks, ms)) => VideoHeaderMeta(r.doc_id,
          r.media_type, r.payload.length.toLong, magic,
          Some(fmt), Some(w), Some(h), Some(tracks), Some(ms))
        case None => VideoHeaderMeta(r.doc_id, r.media_type,
          r.payload.length.toLong, magic, None, None, None, None, None)
      }
    }
  }

  /** `mm_video_meta`: video container metadata decode — the video twin
    * of [[mediaMeta]]/[[audioMeta]], completing the image∪audio∪video
    * header family: real ISO-BMFF MP4 box walks (BE sizes, 16.16
    * fixed-point tkhd dims, every 4th with a planted `free` box so a
    * fixed-offset parser fails the gate) and nested-LIST RIFF AVI main
    * headers (every 8th with a planted `JUNK` chunk) carrying
    * doc_id-derived parameters, parsed back through
    * [[MediaHeaders.parseVideo]]; every 5th payload is corrupted
    * (0x00-prefixed text — matches no signature) → NULLs. The oracle
    * recomputes dims/track-count/duration from the synthesis
    * arithmetic, so a box-size, fixed-point-shift, endianness or
    * nested-list bug breaks the hash. Payload bytes never leave the
    * executors. */
  def videoMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    recs.mapPartitions(_.map { case (id, text) =>
      val declared = if (id % 2 == 0) "mp4" else "avi"
      val payload =
        if (id % 5 == 0) (0.toByte +: text.getBytes("UTF-8")).toArray
        else if (id % 2 == 0)
          MediaHeaders.synthMp4(600 + (id * 7) % 1000, (id * 97) % 100000,
            1 + id % 3, 160 + (id * 11) % 1920, 120 + (id * 17) % 1080,
            id % 8 == 2)
        else
          MediaHeaders.synthAvi(10000 + (id * 13) % 50000, (id * 41) % 10000,
            1 + (id / 2) % 3, 160 + (id * 19) % 1920, 120 + (id * 23) % 1080,
            id % 8 == 3)
      MediaRecord(id, declared, payload)
    }).mapPartitions(_.map(VideoHeaderDecoder.decode))
      .toDF().orderBy("doc_id")
  }

  final case class ResizedMedia(
      doc_id: Long, media_type: String, width: Long, height: Long,
      payload: Array[Byte])

  /** Resize stage: scale every record's media to fit a target box
    * (aspect preserved) and re-encode. The pixel work is the stub (the
    * payload is proportionally truncated — a real codec call sits in
    * its place); the plumbing is the production shape: per-partition
    * batch, payload bytes never touch the driver, metadata recomputed
    * from the decode. */
  def resizeToFit(ds: Dataset[MediaRecord], decoder: MediaDecoder,
      maxW: Long, maxH: Long): Dataset[ResizedMedia] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { rec =>
      val meta = decoder.decode(rec)
      val scale = math.min(1.0,
        math.min(maxW.toDouble / meta.width, maxH.toDouble / meta.height))
      val w = math.max(1L, (meta.width * scale).toLong)
      val h = math.max(1L, (meta.height * scale).toLong)
      val newLen = math.max(1, (rec.payload.length * scale * scale).toInt)
      ResizedMedia(rec.doc_id, rec.media_type, w, h, rec.payload.take(newLen))
    })
  }

  final case class FrameSample(
      doc_id: Long, frame_idx: Long, frame_off: Long, feat: Array[Float])

  /** Frame sampling: one row per decoded frame with a feature vector —
    * the batch shape of a video/image feature-extraction stage
    * (explode multiplies rows; the feature array column is the
    * embedding schema downstream ANN expects). Frame decode + feature
    * extraction are the deterministic stub; partitioning, schema and
    * iterator batching are the real pipeline. */
  def sampleFrames(ds: Dataset[MediaRecord], decoder: MediaDecoder): Dataset[FrameSample] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { rec =>
      val meta = decoder.decode(rec)
      (0L until meta.frame_count).iterator.map { i =>
        val off = i * math.max(meta.byte_len / meta.frame_count, 1L)
        // stub feature: 4 deterministic floats derived from (len, frame)
        val feat = Array.tabulate(4)(j =>
          ((meta.byte_len + i * 31 + j * 7) % 997).toFloat / 997.0f)
        FrameSample(rec.doc_id, i, off, feat)
      }
    })
  }

  /** Contract query: frames sampled from the synthetic media corpus;
    * the feature vector is summarized (dot with a ones vector — the
    * native codegen path; a raw double sum, no ROUND, per the repo's
    * determinism rules) so the oracle stays SQL. */
  def frameSamples(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
    val ones = array(Seq.fill(4)(lit(1.0)): _*)
    sampleFrames(recs, StubDecoder)
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("frame_off"),
        graft.functions.VectorFunctions.dot(col("feat").cast("array<double>"), ones)
          .as("feat_sum"))
      .orderBy("doc_id", "frame_idx")
  }

  /** Fixed-point grid (1e-6) on which frame features are snapped before
    * fingerprint grouping in [[frameDedup]]. */
  val FrameFpScale = 1000000L

  /** `mm_frame_dedup`: duplicate-frame detection across media — frames
    * whose (grid-snapped) feature vectors coincide, with a canonical
    * (doc, frame) per class. The visual-dedup pass a vision-training
    * pipeline runs between frame extraction and embedding (intro
    * cards, black frames and shared b-roll collapse here before any
    * GPU spend); exact on the feature grid, the same contract as
    * [[graft.operators.Dedup]]'s exact pass.
    *
    * Scale shape: features are fingerprinted map-side (4 fixed-point
    * longs per frame — the FLOOR grid makes float features
    * hash-stable), so the ONE shuffle carries 32-byte keys, never
    * frames or features; the canonical pick is an integer min over
    * `doc_id·8 + frame_idx` (frame counts are < 8 by the decode
    * contract) — exact, order-independent, no window. */
  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
    val fps = (0 until 4).map(j =>
      floor(element_at(col("feat"), j + 1).cast("double")
        * lit(FrameFpScale.toDouble)).cast("long").as(s"fp$j"))
    sampleFrames(recs, StubDecoder).toDF()
      .select(col("doc_id") :: col("frame_idx") :: fps.toList: _*)
      .groupBy("fp0", "fp1", "fp2", "fp3")
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id") * 8 + col("frame_idx")).as("ck"))
      .where(col("n_frames") >= 2)
      .select(col("fp0"), col("fp1"), col("fp2"), col("fp3"),
        col("n_frames"), col("n_docs"),
        expr("ck DIV 8").as("canon_doc_id"),
        (col("ck") % 8).as("canon_frame_idx"))
      .orderBy("fp0", "fp1", "fp2", "fp3")
  }

  /** Exact-cosine floor for a perceptual frame near-dup pair. Planted
    * re-encode twins sit at ~1−1e-9; independent 8-dim features
    * concentrate near 0 — the gap is ~6 nines wide. */
  val FrameNearDupCos = 0.999
  /** Perceptual feature width. */
  val FrameFeatDim = 8
  /** Target per-(table, signature) bucket population for the frame
    * index. Much tighter than [[Similarity.LshTargetBucketPop]]'s 64:
    * candidate work is tables × buckets × pop², and the frame corpus
    * (≤ 8 rows per document) is an order of magnitude larger than the
    * embedding corpus — pop 8 keeps the candidate join ~n·pop·tables
    * at any frame count. */
  val FrameLshTargetPop = 8L
  /** Per-threshold-pair miss budget the table count is derived from. */
  val FrameLshMissTarget = 1e-9
  /** Hard bucket cap (the [[Similarity.capBuckets]] discipline). */
  val FrameLshBucketCap = 16L * FrameLshTargetPop
  /** Every doc with doc_id ≡ 1 (mod this) is a re-encode TWIN of
    * doc_id−1: same perceptual content, jittered features. */
  val FrameTwinMod = 29L
  /** Scale of the planted re-encode jitter (per-dim, ≪ the pair gap). */
  val FrameJitter = 1e-7

  /** Per-frame PERCEPTUAL features for [[frameNearDup]] — the output
    * shape of a real perceptual hash (pHash class): an 8-dim float
    * signature that is STABLE under re-encode jitter, unlike
    * [[frameDedup]]'s bit-exact fingerprints. The deterministic stub:
    * dims are PORTABLE-hash uniforms of (base doc, frame_idx, dim) —
    * the [[graft.functions.HyperplaneSigs]] quadratic chain over the
    * flat coordinate, centered to h₃/2³⁰ − 1 ∈ [−1,1) (r15: replaced
    * xxhash64 so the DuckDB oracle regenerates every feature; centered
    * so independent vectors stay near-orthogonal) — where a twin doc
    * (doc_id ≡ 1 mod [[FrameTwinMod]]) inherits its base's features
    * plus [[FrameJitter]] noise. Near-dup ground truth stays
    * brute-force recomputable in the spec, independent vectors are
    * near-orthogonal, and the Spark-side plumbing (frame explode,
    * signature pass, bucket join, rerank) is the real pipeline. */
  private[graft] def perceptualFrames(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
    val twin = col("doc_id") % FrameTwinMod === 1
    val base = when(twin, col("doc_id") - 1).otherwise(col("doc_id"))
    val m = graft.functions.HyperplaneSigs.HashMod
    val a = graft.functions.HyperplaneSigs.HashMult
    val c = graft.functions.HyperplaneSigs.MixAdd
    val dims = (0 until FrameFeatDim).map { j =>
      val flat = (base % m) * lit(64L) + col("frame_idx") * lit(8L) + lit(j.toLong)
      val h1 = ((flat % m) * a) % m
      val h2 = ((h1 * h1) + c) % m
      val h3 = (h2 * a) % m
      // SECOND quadratic round: one round equidistributes the top BIT
      // (all planeSign needs) but its full magnitude keeps enough
      // coordinate correlation that ~2e-4 of random frame pairs landed
      // above the 0.999 cosine bar (measured); the second squaring
      // drives that under 5e-6
      val h4 = ((h3 * h3) + c) % m
      val h5 = (h4 * a) % m
      // CENTERED uniform in [−1, 1): all-positive dims would crowd
      // random pairs above the 0.999 cosine bar (8-dim positive
      // vectors average cosine ≈ 0.75 with a fat right tail) and the
      // near-orthogonality the twin contract rests on would vanish
      ((h5.cast("double") / lit(1073741824.0)) - lit(1.0)) +
        when(twin, lit((j + 1) * FrameJitter)).otherwise(lit(0.0))
    }
    sampleFrames(recs, StubDecoder).toDF()
      .select((col("doc_id") * 8 + col("frame_idx")).as("fid"),
        col("doc_id"), col("frame_idx"),
        array(dims: _*).as("embedding"))
  }

  /** Frame-LSH bit width for `n` frames: smallest b ≥ 6 with
    * [[FrameLshTargetPop]]·2ᵇ ≥ n, capped at
    * [[Similarity.LshMaxBits]] — the integer [[Similarity.lshBitsFor]]
    * form (r15: replaced ceil(log₂) so the oracle derives the same
    * width with pure integer SQL; float log₂ flips at exact powers of
    * two). */
  private[graft] def frameLshBitsFor(n: Long): Int = {
    var b = 6
    while (b < Similarity.LshMaxBits && (FrameLshTargetPop << b) < n) b += 1
    b
  }

  /** Frame-LSH table count for a bit width: smallest t with
    * (1 − p^bits)^t ≤ [[FrameLshMissTarget]] for p = 1 − θ/π at
    * θ = arccos([[FrameNearDupCos]]) — evaluated ONCE per bits value
    * on the build JVM and embedded as a bits-keyed CASE in the oracle
    * (the [[Similarity]] lshTablesFor precedent: no transcendental
    * replay cross-engine). */
  private[graft] def frameLshTablesFor(bits: Int): Int = {
    val pTable = math.pow(1.0 - math.acos(FrameNearDupCos) / math.Pi, bits)
    math.min(64, math.max(2,
      math.ceil(math.log(FrameLshMissTarget) / math.log(1.0 - pTable)).toInt))
  }

  /** `mm_frame_neardup`: PERCEPTUAL frame near-dup pairs — frames
    * whose perceptual features sit at ≥ [[FrameNearDupCos]] cosine.
    * [[frameDedup]] only catches bit-identical fingerprints; real
    * duplicate frames differ by re-encode jitter (crop-free rescale,
    * chroma subsampling, quantization), which this pass absorbs: the
    * visual-dedup stage a vision pipeline runs after exact dedup and
    * before any GPU spend.
    *
    * Scale shape: the [[Similarity.embedNearDup]] kernel
    * re-instantiated on frames — hyperplane-LSH signatures with
    * PARAMETERS DERIVED FROM THIS OPERATOR'S OWN THRESHOLD, not the
    * 0.45-threshold schedule: bit width targets
    * [[FrameLshTargetPop]]-sized buckets from the measured frame
    * count, and the table count is the smallest t with
    * (1 − p^bits)^t ≤ [[FrameLshMissTarget]] for p = 1 − θ/π at
    * θ = arccos([[FrameNearDupCos]]). At 0.999 the per-bit collision
    * probability is ~0.986, so ~12 tables suffice where the
    * 0.45-threshold formula would demand ~70 — the first cut of this
    * operator reused that schedule and paid 70× the candidate mass
    * (491 s at sf0.1; ~2 s after). Overfull buckets dropped per the
    * standing cap discipline, candidates from the keyed (table,
    * signature) equi-join — never frames² — and only candidates pay
    * the exact cosine rerank (precision 1).
    *
    * FULL oracle since r15: features are the portable quadratic-hash
    * uniforms and the hyperplane signatures were always the portable
    * Rademacher planes, so [[frameNearDupOracleSql]] replays feature
    * synthesis, width/table derivation, signing, bucket cap, candidate
    * join and the exact cosine rerank — the ann_topk_lsh pattern on
    * frames. PipelineSpec still asserts exact parity against the
    * brute-force all-pairs scan (recall 1.0 and precision 1.0, the
    * SURVEY §6 license); planted twins sit at θ ≈ 4.5e-5 rad where the
    * per-table miss is ~1.7e-4 — at 12 tables, vanishing. */
  def frameNearDup(spark: SparkSession, dir: String): DataFrame = {
    // feature + signature tables are session-cached artifacts (the
    // lshSigs precedent): in production the frame index is PERSISTED —
    // repeat consumers read the materialization, never re-sign frames
    val f = ArtifactCache.of(spark, dir, "mm_frame_feats")(
      perceptualFrames(spark, dir))
    val sigs = ArtifactCache.of(spark, dir, "mm_frame_sigs") {
      // the signature width derives from the frame count: counted when
      // the signatures are built, not on every read of them
      val bits = frameLshBitsFor(f.count())
      Similarity.capBuckets(
        Similarity.signatures(f, "fid", frameLshTablesFor(bits), bits,
          dim = FrameFeatDim),
        FrameLshBucketCap)
    }
    // the verified pair list is itself a session-cached artifact (the
    // dd_minhash_pairs precedent): derived once per corpus, repeat
    // consumers read the materialization
    ArtifactCache.of(spark, dir, "mm_frame_neardup_pairs") {
      val cand = sigs.select(col("fid").as("a_fid"), col("tbl"), col("sig"))
        .join(sigs.select(col("fid").as("b_fid"), col("tbl"), col("sig")),
          Seq("tbl", "sig"))
        .where(col("a_fid") < col("b_fid"))
        .select("a_fid", "b_fid").distinct()
      val withNorm = f.withColumn("nrm",
        graft.functions.VectorFunctions.norm(col("embedding")))
      cand
        .join(withNorm.select(col("fid").as("a_fid"), col("doc_id").as("a_doc"),
          col("frame_idx").as("a_frame"), col("embedding").as("e_a"),
          col("nrm").as("n_a")), "a_fid")
        .join(withNorm.select(col("fid").as("b_fid"), col("doc_id").as("b_doc"),
          col("frame_idx").as("b_frame"), col("embedding").as("e_b"),
          col("nrm").as("n_b")), "b_fid")
        .select(col("a_doc"), col("a_frame"), col("b_doc"), col("b_frame"),
          graft.functions.VectorFunctions.cosinePrenormed(
            graft.functions.VectorFunctions.dot(col("e_a"), col("e_b")),
            col("n_a"), col("n_b")).as("cosine"))
        .where(col("cosine") >= FrameNearDupCos)
    }.orderBy("a_doc", "a_frame", "b_doc", "b_frame")
  }

  /** Width bucket (pixels) for [[resolutionHist]]. */
  val ResolutionBucket = 128L

  /** `mm_resolution_hist`: decoded-resolution histogram — per format,
    * how many assets land in each [[ResolutionBucket]]-pixel width
    * band (with the height range seen there). The resize-policy design
    * input a vision-data pipeline reads before fixing model input
    * dims; corrupt payloads (no parsed header) are excluded — they're
    * [[corruptRate]]'s row.
    *
    * Scale shape: dims come from the same typed header-parse seam as
    * [[mediaMeta]] (payloads never move), the bucket is integer
    * division, and the rollup is histogram-sized. */
  def resolutionHist(spark: SparkSession, dir: String): DataFrame =
    mediaMeta(spark, dir)
      .where(col("format").isNotNull)
      .select(col("format"), col("height"),
        expr(s"width DIV $ResolutionBucket").as("wbucket"),
        (expr(s"width DIV $ResolutionBucket") * ResolutionBucket).as("width_lo"))
      .groupBy("format", "wbucket", "width_lo")
      .agg(count(lit(1)).as("n_assets"),
        min(col("height")).as("min_height"),
        max(col("height")).as("max_height"))
      .orderBy("format", "wbucket")

  /** `mm_audio_profile`: decoded-duration histogram — per audio
    * format, how many assets land in each 1-second duration band, with
    * the bit-rate range seen there. The audio twin of
    * [[resolutionHist]]: the chunking/padding-policy design input an
    * audio-data pipeline reads before fixing model window lengths
    * (how long ARE the clips, and at what encodings); corrupt payloads
    * (no parsed header) are excluded — they're [[corruptRate]]'s row.
    *
    * Scale shape: fields come from the same typed header-parse seam as
    * [[audioMeta]] (payloads never move), the band is integer
    * division, and the rollup is histogram-sized. */
  def audioProfile(spark: SparkSession, dir: String): DataFrame =
    audioMeta(spark, dir)
      .where(col("format").isNotNull)
      .select(col("format"),
        expr("duration_ms DIV 1000").as("duration_s"), col("bit_rate"))
      .groupBy("format", "duration_s")
      .agg(count(lit(1)).as("n_assets"),
        min(col("bit_rate")).as("min_bit_rate"),
        max(col("bit_rate")).as("max_bit_rate"))
      .orderBy("format", "duration_s")

  /** `mm_video_profile`: clip-length/frame-size profile — per video
    * format, how many assets land in each 1-second duration band, with
    * the largest frame dims seen there. The video twin of
    * [[audioProfile]]: the frame-buffer/segment-length design input a
    * video-data pipeline reads before fixing decode batch shapes (how
    * long ARE the clips in each band, and how big do frames get);
    * corrupt payloads (no parsed header) are excluded — they're
    * [[corruptRate]]'s row.
    *
    * Scale shape: fields come from the same typed header-parse seam as
    * [[videoMeta]] (payloads never move), the band is integer
    * division, and the rollup is histogram-sized. */
  def videoProfile(spark: SparkSession, dir: String): DataFrame =
    videoMeta(spark, dir)
      .where(col("format").isNotNull)
      .select(col("format"),
        expr("duration_ms DIV 1000").as("duration_s"),
        col("width"), col("height"))
      .groupBy("format", "duration_s")
      .agg(count(lit(1)).as("n_assets"),
        max(col("width")).as("max_width"),
        max(col("height")).as("max_height"))
      .orderBy("format", "duration_s")

  /** `mm_exact_dedup`: content-hash exact dedup of media payloads —
    * the first pass of any multimodal curation pipeline (the same
    * crawl image ships under thousands of URLs; hash-grouping payload
    * BYTES collapses them before any expensive decode).
    *
    * The corpus is synthesized with deliberately colliding dimensions
    * (w mod 64, h mod 32) so real duplicate payloads exist; the sha256
    * runs over the actual bytes on the executors (payloads never reach
    * the driver), and the oracle recomputes the equivalence classes
    * from the doc_id arithmetic — a hash-grouping bug (e.g. hashing
    * the declared type instead of bytes) breaks the match. Scale
    * shape: the [[Dedup]] discipline — hash BEFORE the shuffle, so the
    * exchange carries 32-byte digests, never payloads; one groupBy +
    * one co-keyed join back. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val recs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val declared = if (id % 2 == 0) "png" else "jpeg"
        val (w, h) = (16 + (id * 7) % 64, 16 + (id * 13) % 32)
        val payload =
          if (id % 5 == 0) text.getBytes("UTF-8") // corrupt: raw text bytes
          else if (id % 2 == 0) MediaHeaders.synthPng(w, h)
          else MediaHeaders.synthJpeg(w, h)
        MediaRecord(id, declared, payload)
      }).toDF()
    val hashed = recs.select(col("doc_id"), col("media_type"),
      sha2(col("payload"), 256).as("content_hash"),
      length(col("payload")).cast("long").as("byte_len"))
    val canon = hashed.groupBy("content_hash")
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("copies"))
    hashed.join(canon, Seq("content_hash"))
      .select(col("doc_id"), col("media_type"), col("byte_len"),
        col("canonical_id"), col("copies"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  /** `mm_frame_neardup` FULL REPLAY oracle — the ann_topk_lsh pattern
    * on frames: frame synthesis from the stub decode arithmetic
    * (frame_count = len%7+1, the oracled mm_frame_samples form),
    * portable-hash feature uniforms + twin jitter, the integer bit
    * derivation, the bits-keyed table-count CASE (Scala-evaluated —
    * no transcendental replay), planeSign signatures with the
    * expression's exact sequential dot, the bucket-population cap,
    * bucket-join candidates, exact cosine rerank at the threshold. */
  private lazy val frameNearDupOracleSql: String = {
    val m = graft.functions.HyperplaneSigs.HashMod
    val a = graft.functions.HyperplaneSigs.HashMult
    val c = graft.functions.HyperplaneSigs.MixAdd
    val dims = (0 until FrameFeatDim).map { j =>
      val flat = s"((base % $m) * 64 + frame_idx * 8 + $j)"
      val h1 = s"((($flat) % $m) * $a) % $m"
      val h2 = s"((($h1) * ($h1)) + $c) % $m"
      val h3 = s"(($h2) * $a) % $m"
      val h4 = s"((($h3) * ($h3)) + $c) % $m"
      val h5 = s"(($h4) * $a) % $m"
      s"((CAST(($h5) AS DOUBLE) / 1073741824.0) - 1.0) + " +
        s"(CASE WHEN twin THEN CAST(${(j + 1) * FrameJitter} AS DOUBLE) " +
        s"ELSE 0.0 END)"
    }.mkString(",\n      ")
    val tablesCase = (6 to Similarity.LshMaxBits)
      .map(b => s"WHEN $b THEN ${frameLshTablesFor(b)}").mkString(" ")
    val flatIdx =
      s"(CAST(t AS BIGINT) * bits + b) * $FrameFeatDim + d + ${Similarity.PlaneSeed}"
    s"""WITH mm AS (
       |  SELECT doc_id,
       |         CAST(octet_length(encode(text)) % 7 + 1 AS BIGINT) AS frame_count
       |  FROM documents),
       |fr AS (
       |  SELECT doc_id,
       |         CAST(unnest(generate_series(0, frame_count - 1)) AS BIGINT)
       |           AS frame_idx
       |  FROM mm),
       |fe AS MATERIALIZED (
       |  SELECT doc_id * 8 + frame_idx AS fid, doc_id, frame_idx,
       |         list_value(
       |      $dims) AS e
       |  FROM (SELECT doc_id, frame_idx, doc_id % $FrameTwinMod = 1 AS twin,
       |               CASE WHEN doc_id % $FrameTwinMod = 1 THEN doc_id - 1
       |                    ELSE doc_id END AS base
       |        FROM fr)),
       |nn AS (SELECT COUNT(*) AS n FROM fe),
       |bb AS (SELECT COALESCE(MIN(CASE WHEN ($FrameLshTargetPop << s.s) >= nn.n
       |                THEN s.s END), ${Similarity.LshMaxBits}) AS bits
       |       FROM nn, (SELECT unnest(generate_series(6, ${Similarity.LshMaxBits}))
       |                 AS s) s),
       |tt AS (SELECT bits, CASE bits $tablesCase END AS tables FROM bb),
       |tb AS (SELECT g1.t, g2.b, tt.bits FROM tt,
       |         (SELECT unnest(generate_series(0, 63)) AS t) g1,
       |         (SELECT unnest(generate_series(0, ${Similarity.LshMaxBits - 1}))
       |          AS b) g2
       |       WHERE g1.t < tt.tables AND g2.b < tt.bits),
       |plc AS (SELECT t, b, d,
       |               ${graft.functions.HyperplaneSigs.planeSignSql(flatIdx)} AS comp
       |        FROM (SELECT t, b, bits,
       |                     unnest(generate_series(0, ${FrameFeatDim - 1})) AS d
       |              FROM tb)),
       |pl AS (SELECT t, b, list(comp ORDER BY d) AS p FROM plc GROUP BY 1, 2),
       |rawsig AS MATERIALIZED (
       |  SELECT v.fid, pl.t AS tbl,
       |         CAST(SUM(CASE WHEN list_reduce(list_transform(
       |                  generate_series(1, $FrameFeatDim),
       |                  i -> v.e[i] * pl.p[i]), (a2, b2) -> a2 + b2) > 0
       |             THEN (1 << pl.b) ELSE 0 END) AS INT) AS sig
       |  FROM fe v, pl GROUP BY 1, 2),
       |pop AS (SELECT tbl, sig, COUNT(*) AS pop FROM rawsig GROUP BY 1, 2),
       |csig AS (SELECT r0.fid, r0.tbl, r0.sig FROM rawsig r0
       |         JOIN pop USING (tbl, sig) WHERE pop.pop <= $FrameLshBucketCap),
       |cand AS (SELECT DISTINCT s1.fid AS a_fid, s2.fid AS b_fid
       |         FROM csig s1 JOIN csig s2
       |           ON s1.tbl = s2.tbl AND s1.sig = s2.sig AND s1.fid < s2.fid)
       |SELECT fa.doc_id AS a_doc, fa.frame_idx AS a_frame,
       |       fb.doc_id AS b_doc, fb.frame_idx AS b_frame,
       |       list_dot_product(fa.e, fb.e)
       |         / (SQRT(list_dot_product(fa.e, fa.e))
       |            * SQRT(list_dot_product(fb.e, fb.e))) AS cosine
       |FROM cand JOIN fe fa ON cand.a_fid = fa.fid
       |          JOIN fe fb ON cand.b_fid = fb.fid
       |WHERE list_dot_product(fa.e, fb.e)
       |        / (SQRT(list_dot_product(fa.e, fa.e))
       |           * SQRT(list_dot_product(fb.e, fb.e))) >= $FrameNearDupCos
       |ORDER BY a_doc, a_frame, b_doc, b_frame""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("mm_frame_neardup", frameNearDup, frameNearDupOracleSql),
    // equivalence classes derived from doc_id arithmetic, NOT from
    // hashing: the Spark side must hash the real payload bytes into
    // exactly these classes for the hash gate to match
    QueryDef("mm_exact_dedup", mediaDedup,
      """WITH k AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS media_type,
        |         CASE WHEN doc_id % 5 = 0 THEN 'raw:' || text
        |              WHEN doc_id % 2 = 0 THEN 'png:' || (16 + (doc_id*7) % 64)
        |                   || 'x' || (16 + (doc_id*13) % 32)
        |              ELSE 'jpeg:' || (16 + (doc_id*7) % 64)
        |                   || 'x' || (16 + (doc_id*13) % 32) END AS key,
        |         CASE WHEN doc_id % 5 = 0
        |                THEN CAST(octet_length(encode(text)) AS BIGINT)
        |              WHEN doc_id % 2 = 0 THEN CAST(33 AS BIGINT)
        |              ELSE CAST(39 AS BIGINT) END AS byte_len
        |  FROM documents),
        |c AS (SELECT key, MIN(doc_id) AS canonical_id, COUNT(*) AS copies
        |      FROM k GROUP BY 1)
        |SELECT doc_id, media_type, byte_len, canonical_id, copies,
        |       doc_id <> canonical_id AS is_dup
        |FROM k JOIN c USING (key) ORDER BY doc_id""".stripMargin),
    QueryDef("mm_resolution_hist", resolutionHist,
      s"""WITH meta AS (SELECT * FROM ($mediaMetaOracle))
         |SELECT format, width // $ResolutionBucket AS wbucket,
         |       (width // $ResolutionBucket) * $ResolutionBucket AS width_lo,
         |       COUNT(*) AS n_assets,
         |       MIN(height) AS min_height, MAX(height) AS max_height
         |FROM meta WHERE format IS NOT NULL
         |GROUP BY 1, 2, 3 ORDER BY format, wbucket""".stripMargin),
    QueryDef("mm_frame_dedup", frameDedup, {
      val fp = (0 until 4).map(j =>
        s"""CAST(FLOOR(CAST(CAST((byte_len + frame_idx*31 + ${j * 7}) % 997 AS REAL)
           |  /CAST(997 AS REAL) AS DOUBLE)*$FrameFpScale) AS BIGINT) AS fp$j"""
          .stripMargin.replace("\n", "")).mkString(",\n        |       ")
      s"""WITH m AS (
         |  SELECT doc_id,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         |         CAST(octet_length(encode(text)) % 7 + 1 AS BIGINT) AS frame_count
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, byte_len,
         |         CAST(unnest(generate_series(0, frame_count - 1)) AS BIGINT) AS frame_idx
         |  FROM m),
         |p AS (
         |  SELECT doc_id, frame_idx,
         |       $fp
         |  FROM f),
         |g AS (SELECT fp0, fp1, fp2, fp3, COUNT(*) AS n_frames,
         |             COUNT(DISTINCT doc_id) AS n_docs,
         |             MIN(doc_id*8 + frame_idx) AS ck
         |      FROM p GROUP BY 1, 2, 3, 4)
         |SELECT fp0, fp1, fp2, fp3, n_frames, n_docs,
         |       ck // 8 AS canon_doc_id, ck % 8 AS canon_frame_idx
         |FROM g WHERE n_frames >= 2
         |ORDER BY fp0, fp1, fp2, fp3""".stripMargin
    }),
    QueryDef("mm_frame_samples", frameSamples,
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |         CAST(octet_length(encode(text)) % 7 + 1 AS BIGINT) AS frame_count
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, byte_len, frame_count,
        |         CAST(unnest(generate_series(0, frame_count - 1)) AS BIGINT) AS frame_idx
        |  FROM m)
        |SELECT doc_id, frame_idx,
        |       frame_idx * GREATEST(byte_len // frame_count, 1) AS frame_off,
        |         CAST(CAST((byte_len + frame_idx*31 + 0) % 997 AS REAL)/CAST(997 AS REAL) AS DOUBLE)
        |       + CAST(CAST((byte_len + frame_idx*31 + 7) % 997 AS REAL)/CAST(997 AS REAL) AS DOUBLE)
        |       + CAST(CAST((byte_len + frame_idx*31 + 14) % 997 AS REAL)/CAST(997 AS REAL) AS DOUBLE)
        |       + CAST(CAST((byte_len + frame_idx*31 + 21) % 997 AS REAL)/CAST(997 AS REAL) AS DOUBLE)
        |         AS feat_sum
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin),
    // expected values derived from doc_id arithmetic, NOT from the
    // parser: the Spark side must synthesize real headers and parse
    // them back correctly for the hash to match
    QueryDef("mm_media_meta", mediaMeta, mediaMetaOracle),
    QueryDef("mm_audio_meta", audioMeta, audioMetaOracle),
    QueryDef("mm_video_meta", videoMeta, videoMetaOracle),
    QueryDef("mm_video_profile", videoProfile,
      s"""WITH meta AS (SELECT * FROM ($videoMetaOracle))
         |SELECT format, duration_ms // 1000 AS duration_s,
         |       COUNT(*) AS n_assets,
         |       MAX(width) AS max_width,
         |       MAX(height) AS max_height
         |FROM meta WHERE format IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("mm_audio_profile", audioProfile,
      s"""WITH meta AS (SELECT * FROM ($audioMetaOracle))
         |SELECT format, duration_ms // 1000 AS duration_s,
         |       COUNT(*) AS n_assets,
         |       MIN(bit_rate) AS min_bit_rate,
         |       MAX(bit_rate) AS max_bit_rate
         |FROM meta WHERE format IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("mm_gif_meta", gifMeta,
      """SELECT doc_id, 'gif' AS media_type,
        |       CASE WHEN doc_id % 7 = 0
        |            THEN CAST(octet_length(encode(text)) + 1 AS BIGINT)
        |            ELSE CAST(13 AS BIGINT) END AS byte_len,
        |       CASE WHEN doc_id % 7 = 0
        |            THEN '00' || substring(hex(encode(text)), 1, 6)
        |            ELSE '47494638' END AS magic,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'gif' END AS format,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL
        |            ELSE CAST(8 + (doc_id*5) % 512 AS BIGINT) END AS width,
        |       CASE WHEN doc_id % 7 = 0 THEN NULL
        |            ELSE CAST(8 + (doc_id*11) % 256 AS BIGINT) END AS height
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("mm_corrupt_rate", corruptRate,
      s"""WITH meta AS (
         |  SELECT media_type, format, byte_len FROM ($mediaMetaOracle)
         |  UNION ALL
         |  SELECT media_type, format, byte_len FROM ($audioMetaOracle)
         |  UNION ALL
         |  SELECT media_type, format, byte_len FROM ($videoMetaOracle))
         |SELECT media_type, COUNT(*) AS n_records,
         |       CAST(SUM(CASE WHEN format IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_corrupt,
         |       CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
         |       CAST(SUM(CASE WHEN format IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS corrupt_rate
         |FROM meta GROUP BY 1 ORDER BY 1""".stripMargin))

  private lazy val audioMetaOracle: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp3' END AS media_type,
      |       CASE WHEN doc_id % 5 = 0
      |              THEN CAST(octet_length(encode(text)) + 1 AS BIGINT)
      |            WHEN doc_id % 2 = 0
      |              THEN CAST(CASE WHEN doc_id % 8 = 2 THEN 56 ELSE 44 END AS BIGINT)
      |            ELSE CAST(14 + (doc_id*31) % 2000 + (doc_id*29) % 997 AS BIGINT)
      |            END AS byte_len,
      |       CASE WHEN doc_id % 5 = 0 THEN '00' || substring(hex(encode(text)), 1, 6)
      |            WHEN doc_id % 2 = 0 THEN '52494646'
      |            ELSE '49443303' END AS magic,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp3' END AS format,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0 THEN CAST(1 + (doc_id // 2) % 2 AS BIGINT)
      |            WHEN doc_id % 4 = 3 THEN CAST(1 AS BIGINT)
      |            ELSE CAST(2 AS BIGINT) END AS channels,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0 THEN CAST(8000 + (doc_id*37) % 40000 AS BIGINT)
      |            ELSE CAST(list_extract([44100, 48000, 32000],
      |                   CAST(1 + doc_id % 3 AS INT)) AS BIGINT) END AS sample_rate,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0
      |              THEN CAST((8000 + (doc_id*37) % 40000) * (1 + (doc_id // 2) % 2)
      |                     * (1 + (doc_id // 4) % 2) * 8 AS BIGINT)
      |            ELSE CAST(list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
      |                   CAST(1 + doc_id % 14 AS INT)) * 1000 AS BIGINT)
      |            END AS bit_rate,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0
      |              THEN CAST(((doc_id*53) % 100000) * 1000
      |                     // ((8000 + (doc_id*37) % 40000) * (1 + (doc_id // 2) % 2)
      |                         * (1 + (doc_id // 4) % 2)) AS BIGINT)
      |            ELSE CAST((4 + (doc_id*29) % 997) * 8
      |                   // list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
      |                        CAST(1 + doc_id % 14 AS INT)) AS BIGINT)
      |            END AS duration_ms
      |FROM documents ORDER BY doc_id""".stripMargin

  private lazy val videoMetaOracle: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS media_type,
      |       CASE WHEN doc_id % 5 = 0
      |              THEN CAST(octet_length(encode(text)) + 1 AS BIGINT)
      |            WHEN doc_id % 2 = 0
      |              THEN CAST(132 + 100 * (1 + doc_id % 3)
      |                     + CASE WHEN doc_id % 8 = 2 THEN 12 ELSE 0 END AS BIGINT)
      |            ELSE CAST(88 + CASE WHEN doc_id % 8 = 3 THEN 12 ELSE 0 END AS BIGINT)
      |            END AS byte_len,
      |       CASE WHEN doc_id % 5 = 0 THEN '00' || substring(hex(encode(text)), 1, 6)
      |            WHEN doc_id % 2 = 0 THEN '00000010'
      |            ELSE '52494646' END AS magic,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'avi' END AS format,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0 THEN CAST(160 + (doc_id*11) % 1920 AS BIGINT)
      |            ELSE CAST(160 + (doc_id*19) % 1920 AS BIGINT) END AS width,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0 THEN CAST(120 + (doc_id*17) % 1080 AS BIGINT)
      |            ELSE CAST(120 + (doc_id*23) % 1080 AS BIGINT) END AS height,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 3 AS BIGINT)
      |            ELSE CAST(1 + (doc_id // 2) % 3 AS BIGINT) END AS n_tracks,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0
      |              THEN CAST(((doc_id*97) % 100000) * 1000
      |                     // (600 + (doc_id*7) % 1000) AS BIGINT)
      |            ELSE CAST((10000 + (doc_id*13) % 50000) * ((doc_id*41) % 10000)
      |                     // 1000 AS BIGINT)
      |            END AS duration_ms
      |FROM documents ORDER BY doc_id""".stripMargin

  private lazy val mediaMetaOracle: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS media_type,
      |       CASE WHEN doc_id % 5 = 0 THEN CAST(octet_length(encode(text)) AS BIGINT)
      |            WHEN doc_id % 2 = 0 THEN CAST(33 AS BIGINT)
      |            ELSE CAST(39 AS BIGINT) END AS byte_len,
      |       CASE WHEN doc_id % 5 = 0 THEN substring(hex(encode(text)), 1, 8)
      |            WHEN doc_id % 2 = 0 THEN '89504E47'
      |            ELSE 'FFD8FFE0' END AS magic,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            ELSE CAST(16 + (doc_id*7) % 1024 AS BIGINT) END AS width,
      |       CASE WHEN doc_id % 5 = 0 THEN NULL
      |            ELSE CAST(16 + (doc_id*13) % 768 AS BIGINT) END AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  /** `mm_corrupt_rate`: decode-health rollup of [[mediaMeta]],
    * [[audioMeta]] AND [[videoMeta]] (image + audio + video feeds in
    * one gate) — per
    * declared media type, record count, parse failures (format NULL:
    * the declared-type/bytes mismatch the header parser caught), total
    * bytes, corrupt fraction. The media-pipeline DQ gate read before
    * any batch decode job is scheduled; a rising rate means an
    * upstream feed is shipping mislabeled or truncated payloads. One
    * partial-aggregating groupBy over the type catalog on top of the
    * existing typed decode seam — payload bytes never leave the
    * executors. */
  def corruptRate(spark: SparkSession, dir: String): DataFrame =
    mediaMeta(spark, dir).select("media_type", "format", "byte_len")
      .unionAll(audioMeta(spark, dir).select("media_type", "format", "byte_len"))
      .unionAll(videoMeta(spark, dir).select("media_type", "format", "byte_len"))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("format").isNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(col("byte_len")).as("total_bytes"))
      .select(col("media_type"), col("n_records"), col("n_corrupt"),
        col("total_bytes"),
        (col("n_corrupt").cast("double") / col("n_records").cast("double"))
          .as("corrupt_rate"))
      .orderBy("media_type")
}
