package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{HyperplaneSigs, NearestCells, RollingHash, SimHashWide, TokenSetHits, WordShingles}

/** Property tests for the native codegen expressions against naive
  * reference implementations on arbitrary input (these are the
  * functions where a hand-rolled while-loop can silently diverge). */
object ExpressionProps extends Properties("graft.functions") {

  private val word: Gen[String] =
    Gen.choose(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar))
  private val sentence: Gen[String] =
    Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val anyText: Gen[String] = Gen.oneOf(
    sentence,
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '), Gen.const('漢')))
      .map(_.mkString))

  property("rollingHash equals codepoint fold") = Prop.forAll(anyText) { s =>
    val expected = s.codePoints().toArray
      .foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    RollingHash.hash(UTF8String.fromString(s)) == expected
  }

  property("wordShingles equals naive sliding-window distinct") =
    Prop.forAll(sentence, Gen.choose(1, 4)) { (s, k) =>
      val words = s.split(" ", -1)
      val expected =
        if (words.length < k) Seq.empty
        else words.sliding(k).map(_.mkString(" ")).toSeq.distinct
      val got = WordShingles.shingle(UTF8String.fromString(s), k)
        .toObjectArray(org.apache.spark.sql.types.StringType).toSeq
        .map(_.toString)
      got == expected
    }

  property("wordNgrams equals naive sliding-window") =
    Prop.forAll(sentence, Gen.choose(1, 4)) { (s, k) =>
      val words = s.split(" ", -1)
      val expected =
        if (words.length < k) Seq.empty
        else words.sliding(k).map(_.mkString(" ")).toSeq
      val got = WordShingles.ngrams(UTF8String.fromString(s), k)
        .toObjectArray(org.apache.spark.sql.types.StringType).toSeq
        .map(_.toString)
      got == expected
    }

  /** The 64-bit SimHash: lane 0 of a one-lane [[SimHashWide]]. */
  private def simhash64(s: String): Long =
    SimHashWide.hash(UTF8String.fromString(s), 1).getLong(0)

  property("simhash is permutation-invariant over token order") =
    Prop.forAll(Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, word))) { ws =>
      val a = simhash64(ws.mkString(" "))
      val b = simhash64(scala.util.Random.shuffle(ws).mkString(" "))
      a == b
    }

  property("simhash: identical docs collide, disjoint vocabularies differ") =
    Prop.forAll(Gen.choose(5, 20).flatMap(n => Gen.listOfN(n, word))) { ws =>
      val s = ws.mkString(" ")
      val same = simhash64(s) == simhash64(s)
      // disjoint vocabulary (suffix makes every token distinct from ws's)
      val other = ws.map(_ + "qx9").mkString(" ")
      val differ = simhash64(s) != simhash64(other)
      same && differ
    }

  property("simhash_wide: lane 0 is simhash64, lanes decorrelate, order-invariant") =
    Prop.forAll(Gen.choose(5, 20).flatMap(n => Gen.listOfN(n, word))) { ws =>
      val s = ws.mkString(" ")
      val wide = SimHashWide.hash(UTF8String.fromString(s), 4).toLongArray()
      val shuffled = SimHashWide.hash(UTF8String.fromString(
        scala.util.Random.shuffle(ws).mkString(" ")), 4).toLongArray()
      wide(0) == simhash64(s) &&
        wide.distinct.length == 4 &&
        wide.sameElements(shuffled)
    }

  // ---- HyperplaneSigs / NearestCells / TokenSetHits ----

  private val vector: Gen[Array[Double]] =
    Gen.choose(1, 16).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-5.0, 5.0)).map(_.toArray))

  property("arrayScale equals naive per-element division (bit-exact)") =
    Prop.forAll(vector, Gen.choose(-10.0, 10.0).suchThat(_ != 0.0)) { (v, s) =>
      val got = graft.functions.ArrayScale.scale(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), s)
        .toDoubleArray().toSeq
      val expected = v.map(_ / s).toSeq
      // exact equality: each element is one IEEE division, no reordering
      got == expected
    }

  property("hyperplaneSigs equals naive per-table sign-bit loop") =
    Prop.forAll(vector, Gen.choose(1, 6), Gen.choose(1, 8), Gen.choose(0L, 99L)) {
      (v, nT, nB, seed) =>
        val planes = HyperplaneSigs.planes(nT, nB, v.length, seed)
        val expected = (0 until nT).map { t =>
          (0 until nB).foldLeft(0) { (sig, b) =>
            val dot = v.indices.foldLeft(0.0)((s, i) => s + v(i) * planes(t)(b)(i))
            if (dot > 0) sig | (1 << b) else sig
          }
        }
        val got = HyperplaneSigs.sigs(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), planes)
          .toIntArray().toSeq
        got == expected
    }

  property("hyperplaneSigs planes replay the portable quadratic hash") =
    Prop.forAll(Gen.choose(1, 4), Gen.choose(1, 4), Gen.choose(0L, 99L)) {
      (nT, nB, seed) =>
        val a = HyperplaneSigs.planes(nT, nB, 8, seed)
        // independent replay of the arithmetic definition (the same
        // integer sequence the DuckDB oracle runs via planeSignSql)
        val m = HyperplaneSigs.HashMod
        val b = Array.tabulate(nT, nB, 8) { (t, bb, d) =>
          val idx = (t.toLong * nB + bb) * 8 + d + seed
          val h1 = ((idx % m) * HyperplaneSigs.HashMult) % m
          val h2 = (h1 * h1 + HyperplaneSigs.MixAdd) % m
          val h3 = (h2 * HyperplaneSigs.HashMult) % m
          if (h3 < m / 2) 1.0 else -1.0
        }
        val eq = a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq
        // components are ±1 only, and over a larger matrix BOTH signs
        // occur (a constant-sign hash would silently break LSH)
        val big = HyperplaneSigs.planes(8, 8, 64, seed).flatten.flatten
        eq && big.forall(x => x == 1.0 || x == -1.0) &&
          big.exists(_ == 1.0) && big.exists(_ == -1.0)
    }

  property("nearestCells equals stable sort-by-distance take-n") =
    Prop.forAll(vector, Gen.choose(1, 8), Gen.choose(1, 8), Gen.choose(0L, 99L)) {
      (v, k, probes, seed) =>
        val rnd = new java.util.Random(seed)
        val centroids = Array.fill(k, v.length)(rnd.nextGaussian())
        val expected = centroids.zipWithIndex.map { case (ct, i) =>
          val d = v.indices.foldLeft(0.0) { (s, j) =>
            val t = v(j) - ct(j); s + t * t
          }
          (d, i)
        }.sortBy(_._1).take(probes).map(_._2).toSeq
        val got = NearestCells.cells(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v),
          centroids, probes).toIntArray().toSeq
        got == expected
    }

  property("tokenSetHits equals naive filter-count (duplicates counted)") =
    Prop.forAll(sentence, Gen.listOf(word)) { (s, set) =>
      val expected = s.split(" ", -1).count(set.toSet)
      val hs = TokenSetHits.buildSet(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          set.map(UTF8String.fromString).toArray))
      TokenSetHits.hits(UTF8String.fromString(s), hs) == expected
    }

  // ---- TopKBuffer: the hand-written bounded heap ----

  private val entries: Gen[List[(Double, Long)]] =
    Gen.listOf(Gen.zip(
      Gen.chooseNum(-10.0, 10.0).map(x => math.rint(x * 4) / 4), // force ties; emits -0.0 too
      Gen.chooseNum(0L, 20L)))

  /* The heap follows SQL comparison semantics (-0.0 == 0.0, ties to the
   * smaller id); raw Ordering[Double] and Tuple2.equals both distinguish
   * the -0.0 bit pattern, so the naive reference and the comparison must
   * normalize — while the heap itself still receives raw -0.0 input. */
  private def nz(s: Double): Double = s + 0.0 // -0.0 → 0.0

  private def naiveWithDups(xs: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    xs.map { case (s, i) => (nz(s), i) }.sortBy { case (s, i) => (-s, i) }.take(k)

  property("TopKBuffer equals sort-take on arbitrary inserts (ties included)") =
    Prop.forAll(entries, Gen.choose(1, 8)) { (xs, k) =>
      val buf = new graft.functions.TopKBuffer(k)
      xs.foreach { case (s, i) => buf.insert(s, i) }
      buf.sortedBestFirst.map { case (s, i) => (nz(s), i) } == naiveWithDups(xs, k)
    }

  property("TopKBuffer merge + serialize roundtrip equals single-pass") =
    Prop.forAll(entries, entries, Gen.choose(1, 8)) { (xs, ys, k) =>
      val a = new graft.functions.TopKBuffer(k)
      xs.foreach { case (s, i) => a.insert(s, i) }
      val b = graft.functions.TopKBuffer.fromBytes(k, {
        val t = new graft.functions.TopKBuffer(k)
        ys.foreach { case (s, i) => t.insert(s, i) }
        t.toBytes
      })
      b.foreach((s, i) => a.insert(s, i))
      a.sortedBestFirst.map { case (s, i) => (nz(s), i) } == naiveWithDups(xs ++ ys, k)
    }

  property("TopKBuffer treats -0.0 as 0.0 with ties falling to the smaller id") =
    Prop.forAll(Gen.choose(1, 4)) { k =>
      val buf = new graft.functions.TopKBuffer(k)
      buf.insert(-0.0, 3); buf.insert(0.0, 5); buf.insert(-1.0, 1)
      buf.sortedBestFirst.take(2).map { case (s, i) => (nz(s), i) } ==
        Seq((0.0, 3L), (0.0, 5L)).take(math.min(k, 2))
    }

  property("MgBuffer: MG guarantee holds under arbitrary split + merge") =
    Prop.forAll(
      Gen.listOf(Gen.choose(1L, 20L)), Gen.listOf(Gen.choose(1L, 20L)),
      Gen.choose(1, 8)) { (xs, ys, k) =>
      val a = new graft.functions.MgBuffer(k)
      xs.foreach(a.add(_, 1L))
      val b = graft.functions.MgBuffer.fromBytes(k, {
        val t = new graft.functions.MgBuffer(k)
        ys.foreach(t.add(_, 1L))
        t.toBytes
      })
      a.mergeFrom(b)
      val est = a.entriesSorted.toMap
      val all = xs ++ ys
      val n = all.length
      val truth = all.groupBy(identity).view.mapValues(_.length.toLong)
      // ≤ k survivors; no overestimates; undercount bounded by n/(k+1);
      // every item above the threshold is present
      est.size <= k &&
        est.forall { case (id, e) => e <= truth(id) } &&
        truth.forall { case (id, t) =>
          est.getOrElse(id, 0L) >= t - n / (k + 1) - 1 &&
            (t * (k + 1) <= n || est.contains(id))
        }
    }

  private val bpeSym: Gen[String] = Gen.oneOf("a", "b", "c", "ab", "bc")

  property("bpeMergeOnce equals the left-greedy recursive reference") =
    Prop.forAll(Gen.listOf(bpeSym), bpeSym, bpeSym) { (xs, l, r) =>
      def ref(s: List[String]): List[String] = s match {
        case a :: b :: rest if a == l && b == r => (l + r) :: ref(rest)
        case a :: rest => a :: ref(rest)
        case Nil => Nil
      }
      graft.operators.TextAnalysis
        .bpeMergeOnce(xs.toIndexedSeq, l, r).toList == ref(xs)
    }

  property("tokenizeWord (rank-accelerated) equals the naive sequential K-replay") =
    Prop.forAll(Gen.listOf(bpeSym),
      Gen.listOf(Gen.zip(bpeSym, bpeSym))) { (xs, pairs) =>
      // naive replay: every merge applied once in training order —
      // the semantics tokenizeWord must reproduce at O(applied) cost.
      // Random tables include duplicate pairs at different ranks and
      // merges whose concatenation collides with other symbols
      // ("a"+"b" == "ab"), the exact edge cases the rank lists cover.
      val word = xs.toIndexedSeq
      val naive = pairs.foldLeft(word) { case (s, (l, r)) =>
        graft.operators.TextAnalysis.bpeMergeOnce(s, l, r)
      }
      val ranks = graft.operators.TextAnalysis.mergeRanks(
        pairs.zipWithIndex.map { case ((l, r), i) => (i + 1, l, r) })
      graft.operators.TextAnalysis.tokenizeWord(word, ranks) == naive
    }

  property("WAV synth/parse round-trips every field over random parameters") =
    Prop.forAll(Gen.choose(1L, 2L), Gen.choose(8000L, 48000L),
      Gen.oneOf(8L, 16L), Gen.choose(0L, 1000000L), Gen.oneOf(true, false)) {
      (ch, rate, bits, dataSize, plantList) =>
        import graft.operators.Multimodal.MediaHeaders
        val byteRate = rate * ch * (bits / 8)
        MediaHeaders.parseWav(
          MediaHeaders.synthWav(ch, rate, bits, dataSize, plantList)) ==
          Some(("wav", ch, rate, byteRate * 8, dataSize * 1000 / byteRate))
    }

  property("MP3 synth/parse round-trips the tables over random parameters") =
    Prop.forAll(Gen.choose(0L, 5000L), Gen.choose(1, 14), Gen.choose(0, 2),
      Gen.choose(0, 3), Gen.choose(0L, 5000L)) {
      (tagPad, bi, ri, mode, bodyLen) =>
        import graft.operators.Multimodal.MediaHeaders
        val kbps = MediaHeaders.Mp3Bitrates(bi - 1)
        MediaHeaders.parseMp3(
          MediaHeaders.synthMp3(tagPad, bi, ri, mode, bodyLen)) ==
          Some(("mp3", if (mode == 3) 1L else 2L, MediaHeaders.Mp3Rates(ri),
            kbps * 1000L, (4L + bodyLen) * 8 / kbps))
    }

  property("MP4 synth/parse round-trips every field over random parameters") =
    Prop.forAll(Gen.choose(1L, 100000L), Gen.choose(0L, 10000000L),
      Gen.choose(1L, 5L), Gen.choose(0L, 4000L), Gen.choose(0L, 4000L),
      Gen.oneOf(true, false)) { (ts, dur, n, w, h, plant) =>
        import graft.operators.Multimodal.MediaHeaders
        MediaHeaders.parseMp4(
          MediaHeaders.synthMp4(ts, dur, n, w, h, plant)) ==
          Some(("mp4", w, h, n, dur * 1000 / ts))
    }

  property("media header parsers never throw on arbitrary or mutated bytes") = {
    import graft.operators.Multimodal.MediaHeaders
    val noise = Gen.listOf(Gen.choose(-128, 127).map(_.toByte)).map(_.toArray)
    // valid container prefixes + noise tails reach the deep walk loops
    // (signature checks alone would shield pure noise from them)
    val mutated = for {
      base <- Gen.oneOf(
        MediaHeaders.synthWav(2, 44100, 16, 88200, plantList = true),
        MediaHeaders.synthAvi(40000, 250, 1, 1280, 720, plantJunk = true),
        MediaHeaders.synthMp4(600, 60000, 2, 1920, 1080, plantFree = true),
        MediaHeaders.synthMp3(300, 9, 0, 0, 160),
        MediaHeaders.synthPng(640, 480),
        MediaHeaders.synthGif(64, 64),
        MediaHeaders.synthJpeg(64, 64))
      cut <- Gen.choose(0, base.length)
      tail <- Gen.listOf(Gen.choose(-128, 127).map(_.toByte))
    } yield base.take(cut) ++ tail.toArray
    Prop.forAll(Gen.oneOf(noise, mutated)) { bytes =>
      // contract: corrupt/hostile payloads parse to None, never throw
      MediaHeaders.parse(bytes)
      MediaHeaders.parseAudio(bytes)
      MediaHeaders.parseVideo(bytes)
      true
    }
  }

  property("text-lines writer format parses back to the scrubbed fields") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue / 2), Gen.alphaStr, Gen.alphaStr,
      Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('\t', '\n', '\r', ' ')))
        .map(_.mkString)) { (id, lang, source, text) =>
      // mirror Ingest.textlinesRoundtrip's writer: tab-join after a
      // plain-char scrub; the parse (limit-4 split) must recover every
      // field even when the text contained the delimiter chars
      val scrubbed = text.replace('\t', ' ').replace('\n', ' ').replace('\r', ' ')
      val line = s"$id\t$lang\t$source\t$scrubbed"
      val f = line.split("\t", 4)
      f.length == 4 && f(0).toLong == id && f(1) == lang &&
        f(2) == source && f(3) == scrubbed
    }

  property("AVI synth/parse round-trips every field over random parameters") =
    Prop.forAll(Gen.choose(1L, 1000000L), Gen.choose(0L, 100000L),
      Gen.choose(1L, 4L), Gen.choose(0L, 8192L), Gen.choose(0L, 8192L),
      Gen.oneOf(true, false)) { (usf, fr, st, w, h, plant) =>
        import graft.operators.Multimodal.MediaHeaders
        MediaHeaders.parseAvi(
          MediaHeaders.synthAvi(usf, fr, st, w, h, plant)) ==
          Some(("avi", w, h, st, usf * fr / 1000))
    }
}
