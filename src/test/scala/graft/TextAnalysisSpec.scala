package graft

import org.apache.spark.sql.functions._
import graft.functions.RollingHash
import graft.operators.{ArtifactCache, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.unsafe.types.UTF8String

class TextAnalysisSpec extends SparkSpec {

  test("stats n_chars matches the precomputed documents column") {
    val expected = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars").as("n_chars_expected"))
    val joined = TextAnalysis.stats(spark, sfDir).join(expected, "doc_id")
    assert(joined.where(col("n_chars") =!= col("n_chars_expected")).count() == 0)
    assert(joined.count() == 500)
  }

  test("rolling hash expression matches a reference fold") {
    def ref(s: String): Long =
      s.codePoints().toArray.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)
    Seq("", "a", "hello world", "ünïcødé 漢字").foreach { s =>
      assert(RollingHash.hash(UTF8String.fromString(s)) == ref(s), s)
    }
  }

  test("fingerprint is deterministic and covers all docs") {
    val a = TextAnalysis.fingerprint(spark, sfDir).collect()
    val b = TextAnalysis.fingerprint(spark, sfDir).collect()
    assert(a.sameElements(b))
    assert(a.length == 500)
  }

  test("language id votes deterministically with lexicon hits") {
    val out = TextAnalysis.langId(spark, sfDir).collect()
    assert(out.length == 500)
    assert(out.forall { r =>
      val lang = r.getAs[String]("pred_lang")
      (lang == "unknown") == (r.getAs[Long]("hits") == 0L)
    })
  }

  test("lang confusion cells reconcile with langId and declared langs") {
    val pred = TextAnalysis.langId(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    val declared = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val expect = declared.toSeq
      .groupBy { case (id, lang) => (lang, pred(id)) }
      .view.mapValues(_.size.toLong).toMap
    val got = TextAnalysis.langConfusion(spark, sfDir).collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum == declared.size.toLong)
    got.foreach { r =>
      val k = (r.getAs[String]("lang"), r.getAs[String]("pred_lang"))
      assert(r.getAs[Long]("n_docs") == expect(k), s"$k")
      assert(r.getAs[Boolean]("agree") == (k._1 == k._2))
      assert(r.getAs[Double]("cell_share") ==
        expect(k).toDouble / declared.values.count(_ == k._1).toDouble)
    }
    // predictions come only from the lexicon langs (or 'unknown'), and
    // both diagonal and off-diagonal mass exist — the corpus's text is
    // English whatever its declared tag, which is exactly the
    // label/content disagreement this gate is built to surface
    val langs = TextAnalysis.lexicon.map(_._2).toSet + "unknown"
    assert(got.map(_.getAs[String]("pred_lang")).forall(langs.contains))
    assert(got.exists(_.getAs[Boolean]("agree")))
    assert(got.exists(!_.getAs[Boolean]("agree")))
  }

  test("quality score stays in [0,1]") {
    val scores = TextAnalysis.quality(spark, sfDir)
      .select("quality_score").collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("per-row text plans have no interpreted higher-order lambda (codegen only)") {
    Seq(
      "quality" -> TextAnalysis.quality(spark, sfDir),
      "repRatio" -> TextAnalysis.repRatio(spark, sfDir),
      "redact" -> TextAnalysis.redact(spark, sfDir),
      "normalize" -> TextAnalysis.normalize(spark, sfDir),
      "fingerprint" -> TextAnalysis.fingerprint(spark, sfDir)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("lambdafunction"),
        s"$name: " + plan.linesIterator.take(5).mkString("\n"))
    }
  }

  test("token-set hits counts duplicates and honors the set") {
    import graft.functions.TokenSetHits
    val set = TokenSetHits.buildSet(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array("the", "a", "of", "and", "is").map(UTF8String.fromString)))
    def hits(s: String): Int = TokenSetHits.hits(UTF8String.fromString(s), set)
    assert(hits("the cat and the hat") == 3) // the, and, the — duplicates counted
    assert(hits("") == 0)
    assert(hits("a a a") == 3)
    assert(hits("theory android") == 0) // whole-token matches only
  }

  test("redaction scrubs planted PII and counts each detection") {
    import spark.implicits._
    val planted = Seq(
      (1L, "contact jane.doe+x@example.co.uk or call 555-123-4567 now"),
      (2L, "server at 192.168.0.1 and 10.0.0.255 intl +4915112345678"),
      (3L, "no pii here at all"),
      (4L, "two mails a@b.io c.d@e-f.org one ip 8.8.8.8")).toDF("doc_id", "text")
    val out = planted.select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.EmailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.Ipv4Pat), lit(0))).as("n_ips"),
        size(regexp_extract_all(col("text"), lit(TextAnalysis.PhonePat), lit(0))).as("n_phones"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          TextAnalysis.EmailPat, "<EMAIL>"), TextAnalysis.Ipv4Pat, "<IP>"),
          TextAnalysis.PhonePat, "<PHONE>").as("redacted"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toMap
    assert(out(1L) == (1, 0, 1, "contact <EMAIL> or call <PHONE> now"))
    assert(out(2L) == (0, 2, 1, "server at <IP> and <IP> intl <PHONE>"))
    assert(out(3L) == (0, 0, 0, "no pii here at all"))
    assert(out(4L) == (2, 1, 0, "two mails <EMAIL> <EMAIL> one ip <IP>"))
    // operator runs clean on the real corpus and keeps every doc
    val real = TextAnalysis.redact(spark, sfDir)
    assert(real.count() == Tables.table(spark, sfDir, "documents").count())
  }

  test("repetition ratio identifies constructed boilerplate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam"),            // all 2-grams identical
      (2L, "all words here are fully distinct"),   // no repeats
      (3L, "one"),                                 // shorter than any n-gram
      (4L, "a b a b a b")).toDF("doc_id", "text")  // period-2 loop
    val g2 = call_function("graft_word_ngrams", col("text"), lit(2))
    val dup2 = when(size(g2) > 0,
      (size(g2) - size(array_distinct(g2))) * lit(1.0) / size(g2)).otherwise(lit(0.0))
    val m = docs.select(col("doc_id"), dup2.as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) == 0.75)   // 4 bigrams, 1 distinct
    assert(m(2L) == 0.0)
    assert(m(3L) == 0.0)
    assert(m(4L) == 0.6)    // 5 bigrams, 2 distinct
    // corpus-wide: ratios bounded, all docs covered
    val real = graft.operators.TextAnalysis.repRatio(spark, sfDir).collect()
    assert(real.length == Tables.table(spark, sfDir, "documents").count())
    real.foreach { r =>
      assert(r.getAs[Double]("dup_2gram_ratio") >= 0.0 &&
        r.getAs[Double]("dup_2gram_ratio") <= 1.0)
    }
  }

  test("corpus profile partitions the corpus and tracks the double mean") {
    val prof = TextAnalysis.corpusProfile(spark, sfDir).collect()
    val docs = Tables.table(spark, sfDir, "documents")
    assert(prof.map(_.getAs[Long]("n_docs")).sum == docs.count())
    val q = TextAnalysis.quality(spark, sfDir)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(avg("quality_score").as("m"),
        avg(when(col("passed"), 1.0).otherwise(0.0)).as("p")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    prof.foreach { r =>
      val (m, p) = q(r.getAs[String]("lang"))
      assert(math.abs(r.getAs[Double]("mean_quality") - m) < 1e-4)
      assert(math.abs(r.getAs[Double]("pass_rate") - p) < 1e-12)
      assert(r.getAs[Long]("n_tokens") > 0)
    }
  }

  test("top ngrams returns 20 rows with positive counts") {
    val rows = TextAnalysis.topNgrams(spark, sfDir).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[Long]("n") > 0))
  }

  test("chunks tile every document with the configured size and stride") {
    import org.apache.spark.sql.functions._
    val nTokens = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = TextAnalysis.chunks(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet == nTokens.keySet)
    chunks.foreach { case (docId, g) =>
      val n = nTokens(docId)
      assert(g.length == (n - 1) / TextAnalysis.ChunkStride + 1)
      g.foreach { r =>
        val start = r.getAs[Int]("chunk_idx") * TextAnalysis.ChunkStride
        assert(r.getAs[Int]("n_chunk_tokens") ==
          math.min(TextAnalysis.ChunkSize, n - start))
      }
    }
    // overlapping-window reconstruction: the first `stride` tokens of
    // each chunk, plus the tail of the last one, equal the document
    val doc = graft.sources.Tables.table(spark, sfDir, "documents")
      .where(col("doc_id") === chunks.keySet.min)
      .select("text").head.getString(0)
    val g0 = chunks(chunks.keySet.min).sortBy(_.getAs[Int]("chunk_idx"))
    val rebuilt = g0.flatMap { r =>
      val toks = r.getAs[String]("chunk_text").split(" ", -1)
      if (r eq g0.last) toks else toks.take(TextAnalysis.ChunkStride)
    }
    assert(rebuilt.mkString(" ") == doc)
  }

  test("tfidf keeps top-k per doc with descending weights and true df") {
    val out = TextAnalysis.tfidf(spark, sfDir).collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.size == 500)
    byDoc.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(5))
      assert(sorted.map(_.getInt(5)).toSeq == (1 to sorted.length))
      assert(sorted.length <= TextAnalysis.TfidfTopK)
      // weights are non-increasing down the ranks (ties broken by term)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(4) >= b.getDouble(4))
        case _ =>
      }
    }
    // df is the corpus-wide document frequency: recompute for one term
    val term = out.head.getString(1)
    val df = graft.sources.Tables.table(spark, sfDir, "documents")
      .where(array_contains(split(col("text"), " "), term)).count()
    assert(out.filter(_.getString(1) == term).forall(_.getLong(3) == df))
  }

  test("lm score is a probability mean over every token transition") {
    val out = TextAnalysis.lmScore(spark, sfDir).collect()
    assert(out.length == 500)
    out.foreach { r =>
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    }
    // one bigram per adjacent token pair
    val nToks = TextAnalysis.stats(spark, sfDir)
      .select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach(r => assert(r.getLong(1) == nToks(r.getLong(0)) - 1L))
  }

  test("RAG chunk retrieval matches a brute-force chunk-level BM25") {
    val out = TextAnalysis.ragChunks(spark, sfDir)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    val rows = out.collect()
    assert(rows.nonEmpty)
    // brute-force on the driver: chunk, filter to query terms, bm25
    val chunks = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect().flatMap { r =>
        val toks = r.getString(1).split(" ", -1)
        val n = toks.length
        (0 to (n - 1) / TextAnalysis.ChunkStride).map { ci =>
          val c = toks.slice(ci * TextAnalysis.ChunkStride,
            math.min(n, ci * TextAnalysis.ChunkStride + TextAnalysis.ChunkSize))
          (r.getLong(0), ci, c)
        }
      }
    val nChunks = chunks.length.toDouble
    val avgdl = chunks.map(_._3.length.toLong).sum.toDouble / nChunks
    val df = TextAnalysis.Bm25Terms.map(t =>
      t -> chunks.count(_._3.contains(t)).toDouble).toMap
    val scored = chunks.map { case (id, ci, c) =>
      val s = TextAnalysis.Bm25Terms.map { t =>
        val tf = c.count(_ == t).toDouble
        if (tf == 0 || df(t) == 0) BigDecimal(0)
        else {
          val idf = (nChunks - df(t) + 0.5) / (df(t) + 0.5) + 1.0
          val v = idf * (tf * (TextAnalysis.Bm25K1 + 1.0)) /
            (tf + TextAnalysis.Bm25K1 * (1.0 - TextAnalysis.Bm25B +
              TextAnalysis.Bm25B * (c.length.toDouble / avgdl)))
          BigDecimal(math.floor(v * TextAnalysis.LmScale.toDouble))
        }
      }.sum
      (id, ci, s.toDouble / TextAnalysis.LmScale.toDouble)
    }.filter(_._3 > 0)
    val expect = scored.sortBy { case (id, ci, s) => (-s, id, ci) }
      .take(TextAnalysis.RagTopK).map(t => (t._1, t._2)).toSeq
    assert(rows.map(r => (r.getLong(0), r.getInt(1))).toSeq == expect)
    rows.foreach { r =>
      val s = scored.find(t => t._1 == r.getLong(0) && t._2 == r.getInt(1)).get._3
      assert(math.abs(r.getDouble(2) - s) < 1e-12)
    }
  }

  test("novelty equals a collected brute-force duplicated-shingle fraction") {
    val sets = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ", -1).toSeq.sliding(3)
          .filter(_.size == 3).map(_.mkString(" ")).toSet)
    val df = sets.iterator.flatMap(_._2).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val expect = sets.filter(_._2.nonEmpty).map { case (id, s) =>
      id -> ((s.size.toLong, s.count(g => df(g) >= 2).toLong))
    }.toMap
    val got = TextAnalysis.novelty(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expect)
    assert(got.values.exists(_._2 > 0) && got.values.exists(v => v._2 < v._1))
  }

  test("vocab: contiguous ids in frequency-rank order, counts match brute force") {
    val v = TextAnalysis.vocab(spark, sfDir).collect()
    assert(v.length == TextAnalysis.VocabK)
    assert(v.map(_.getAs[Int]("id")).toSeq == (0 until v.length))
    val ranked = v.map(r => (r.getAs[Long]("cnt"), r.getAs[String]("token")))
    assert(ranked.sortBy { case (c, t) => (-c, t) }.toSeq == ranked.toSeq)
    val brute = graft.sources.Tables.table(spark, sfDir, "documents")
      .collect().flatMap(_.getAs[String]("text").split(" ", -1))
      .groupBy(identity).map { case (t, g) => t -> g.length.toLong }
    v.foreach(r => assert(brute(r.getAs[String]("token")) == r.getAs[Long]("cnt")))
    // the vocab is exactly the brute-force top-k
    val topK = brute.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(TextAnalysis.VocabK).map(_._1).toSet
    assert(v.map(_.getAs[String]("token")).toSet == topK)
  }

  test("oov rate matches a brute-force recompute and is a live signal") {
    val vocab = TextAnalysis.vocab(spark, sfDir).collect()
      .map(_.getAs[String]("token")).toSet
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val got = TextAnalysis.oovScore(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_ratio")))).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val oov = toks.count(!vocab.contains(_))
      val (n, o, ratio) = got(id)
      assert(n == toks.length && o == oov, s"doc $id")
      assert(math.abs(ratio - oov.toDouble / toks.length) < 1e-15)
    }
    // VocabK is below the distinct-token count, so some OOV must exist
    // and no document is fully OOV
    assert(got.values.exists(_._2 > 0))
    assert(got.values.forall(v => v._2 < v._1))
  }

  test("lexical diversity matches a driver recompute and stays in bounds") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val got = TextAnalysis.lexicalDiversity(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"),
          r.getAs[Long]("n_hapax"), r.getAs[Double]("ttr"),
          r.getAs[Double]("hapax_frac"), r.getAs[Double]("simpson_rep"))))
      .toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val counts = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val n = toks.length.toLong
      val types = counts.size.toLong
      val hapax = counts.values.count(_ == 1L).toLong
      val repPairs = counts.values.map(c => c * (c - 1)).sum
      val (gn, gt, gh, ttr, hf, sr) = got(id)
      assert(gn == n && gt == types && gh == hapax, s"doc $id counts")
      assert(ttr == types * 1.0 / n && hf == hapax * 1.0 / types, s"doc $id ratios")
      val expSr = if (n >= 2) repPairs * 1.0 / (n * (n - 1)) else 0.0
      assert(sr == expSr, s"doc $id simpson")
      assert(gh <= gt && gt <= gn)
      assert(sr >= 0.0 && sr <= 1.0)
    }
  }

  test("compression ratio: deterministic, one row per doc, orders by redundancy") {
    import spark.implicits._
    val rows = TextAnalysis.compressionRatio(spark, sfDir).collect()
    val nDocs = graft.sources.Tables.table(spark, sfDir, "documents").count()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      assert(r.getAs[Long]("compressed_len") > 0L)
      assert(r.getAs[Double]("compression_ratio") ==
        r.getAs[Long]("compressed_len").toDouble / r.getAs[Long]("raw_len"))
    }
    // determinism: a re-run is bit-identical
    assert(TextAnalysis.compressionRatio(spark, sfDir).collect().toSeq ==
      rows.toSeq)
    // ordering property: a highly repetitive doc compresses below a
    // token-diverse one of the same length (the signal's whole point)
    val rep = Array.fill(200)("spark").mkString(" ")
    val div = (0 until 200).map(i => s"tok$i").mkString(" ").take(rep.length)
    val probe = Seq((1L, rep), (2L, div)).toDF("doc_id", "text")
    val dir2 = java.nio.file.Files.createTempDirectory("cmp").toString
    probe.write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val got = TextAnalysis.compressionRatio(spark, dir2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("compression_ratio"))
      .toMap
    assert(got(1L) < got(2L), s"repetitive ${got(1L)} !< diverse ${got(2L)}")
  }

  test("quality ensemble: components bounded, flag consistent, co-keyed rows") {
    val rows = TextAnalysis.qualityEnsemble(spark, sfDir).collect()
    assert(rows.length ==
      graft.sources.Tables.table(spark, sfDir, "documents").count())
    rows.foreach { r =>
      val c = r.getAs[Double]("composite")
      assert(c == 0.5 * r.getAs[Double]("quality_score") +
        0.25 * (1.0 - r.getAs[Double]("dup_3gram_ratio")) +
        0.25 * r.getAs[Double]("ttr"))
      assert(r.getAs[Boolean]("keep") == (c >= TextAnalysis.EnsembleBar))
      assert(r.getAs[Double]("ttr") > 0.0 && r.getAs[Double]("ttr") <= 1.0)
    }
    // the blend must actually discriminate on this corpus
    assert(rows.exists(_.getAs[Boolean]("keep")) &&
      rows.exists(!_.getAs[Boolean]("keep")))
  }

  test("quality and the ensemble score an empty document (punct_ratio 0)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_text").toString
    Seq((1L, "hello, world"), (2L, ""), (3L, "a plain sentence"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = TextAnalysis.quality(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(q.keySet == Set(1L, 2L, 3L))
    assert(q(2L).getAs[Double]("punct_ratio") == 0.0)
    assert(q(1L).getAs[Double]("punct_ratio") == 1.0 / 12)
    val e = TextAnalysis.qualityEnsemble(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(e.keySet == Set(1L, 2L, 3L))
    e.foreach { case (id, r) =>
      assert(r.getAs[Double]("quality_score") == q(id).getAs[Double]("quality_score"))
    }
  }

  test("trained quality LR: beats the majority baseline, score/flag consistent") {
    val rows = TextAnalysis.qualityLr(spark, sfDir).collect()
    assert(rows.length ==
      graft.sources.Tables.table(spark, sfDir, "documents").count())
    rows.foreach { r =>
      val p = r.getAs[Double]("lr_score")
      assert(p > 0.0 && p < 1.0, s"score out of the open sigmoid range: $p")
      assert(r.getAs[Boolean]("keep_lr") == (p >= 0.5))
    }
    // the TRAINED gate must clear the do-nothing classifiers: majority
    // baseline (predict the bigger class everywhere) and well above
    // chance — the license for deploying it as a pipeline stage
    val n = rows.length.toDouble
    val acc = rows.count(r =>
      r.getAs[Boolean]("keep_lr") == r.getAs[Boolean]("label")) / n
    val posFrac = rows.count(_.getAs[Boolean]("label")) / n
    val majority = math.max(posFrac, 1.0 - posFrac)
    assert(acc >= 0.9, s"trained accuracy $acc below the 0.9 CI gate")
    assert(acc > majority, s"trained accuracy $acc under majority $majority")
    // training is deterministic: a second model derivation (fresh map
    // entry) replays to the same weights
    val (mu, w) = TextAnalysis.qualityLrModel(spark, sfDir)
    assert(mu.length == 3 && w.length == 4 && w.forall(v => !v.isNaN))
    // persist/load round-trip primes the cache with the identical model
    // (the IVF-codebook train-once contract)
    val path = java.nio.file.Files.createTempDirectory("graft_lr").toString + "/model"
    ArtifactCache.save(spark, sfDir, "quality_lr_model", path)
    ArtifactCache.invalidateDir(spark, sfDir)
    ArtifactCache.load(spark, sfDir, "quality_lr_model", path)
    val (mu2, w2) = TextAnalysis.qualityLrModel(spark, sfDir)
    assert(mu2.toSeq == mu.toSeq && w2.toSeq == w.toSeq)
    // a saved model of the wrong shape fails where the model is read
    val (short, bad) = ("/lr-spec/short", "/lr-spec/bad")
    ArtifactCache.value(spark, short, "quality_lr_model")((Array(0.0), Array(0.0)))
    ArtifactCache.save(spark, short, "quality_lr_model", s"$path-short")
    ArtifactCache.load(spark, bad, "quality_lr_model", s"$path-short")
    val malformed = intercept[IllegalArgumentException](
      TextAnalysis.qualityLrModel(spark, bad))
    assert(malformed.getMessage.contains("1 means, 1 weights"), malformed.getMessage)
    val rows2 = TextAnalysis.qualityLr(spark, sfDir).collect()
    assert(rows2.map(_.getAs[Double]("lr_score")).toSeq ==
      rows.map(_.getAs[Double]("lr_score")).toSeq)
  }

  test("bpe pairs match a driver recompute of character-bigram counts") {
    val rows = TextAnalysis.bpePairs(spark, sfDir).collect()
    assert(rows.length == TextAnalysis.BpeTopK)
    val counts = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0))
      .flatMap(_.split(" ")).filter(_.length >= 2)
      .flatMap(w => w.sliding(2).toSeq)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val exp = counts.toSeq.sortBy { case (p, n) => (-n, p) }
      .take(TextAnalysis.BpeTopK)
    assert(rows.map(r => (r.getAs[String]("pair"), r.getAs[Long]("n"))).toSeq
      == exp)
  }

  test("bpe_train matches the driver-replayed greedy BPE recursion") {
    val got = TextAnalysis.bpeTrain(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("merge_idx"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[Long]("pair_freq")))
    // independent replay of the greedy recursion (word-map state, not
    // the trainer's array state; sliding-pair counting, not the index
    // loop), with the trainer's early stop on pair exhaustion
    var words: Map[IndexedSeq[String], Long] =
      graft.sources.Tables.table(spark, sfDir, "documents")
        .select("text").collect().map(_.getString(0))
        .flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).view
        .mapValues(_.length.toLong)
        .toSeq
        .filter(_._2 >= TextAnalysis.BpeHapaxFloor) // trainer's min-frequency cut
        .groupBy { case (w, _) => TextAnalysis.codePointSyms(w) }
        .view.mapValues(_.map(_._2).sum).toMap
    val replay = Vector.newBuilder[(Int, String, String, Long)]
    var round = 1
    var done = false
    while (round <= TextAnalysis.BpeMerges && !done) {
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      words.foreach { case (syms, f) =>
        syms.sliding(2).foreach {
          case scala.collection.immutable.Seq(a, b) =>
            pairCounts((a, b)) += f
          case _ =>
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // UTF-8 BYTE tie order (the trainer's utf8Lt / Spark's
        // UTF8String binary order), NOT Scala String order (UTF-16
        // code units) — they diverge on supplementary-plane symbols
        val utf8Ord: Ordering[String] = (a, b) =>
          java.util.Arrays.compareUnsigned(
            a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val (bl, br) = pairCounts.toSeq
          .sortBy { case ((l, r), n) => (-n, l, r) }(
            Ordering.Tuple3(Ordering.Long, utf8Ord, utf8Ord)).head._1
        replay += ((round, bl, br, pairCounts((bl, br))))
        words = words.toSeq.map { case (syms, f) =>
          (TextAnalysis.bpeMergeOnce(syms, bl, br), f)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        round += 1
      }
    }
    val exp = replay.result()
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (g, e) => assert(g == e, s"got $g, replay $e") }
    // merge frequencies are non-increasing only within equal alphabets —
    // but a merged symbol's pair freq can never exceed its parts': the
    // first merge is the global max
    assert(got.head._4 == got.map(_._4).max)
  }

  test("driver-side BPE trainer equals the distributed per-round path merge-for-merge") {
    // the cross-check that collecting the vocab table and training
    // driver-side preserved cluster aggregation + tie-order semantics;
    // 12 rounds keeps the per-round-job path affordable in CI
    val k = 12
    val dist = TextAnalysis.trainBpeMergesDistributed(spark, sfDir, k)
    val drv = TextAnalysis.bpeTrain(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("merge_idx"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[Long]("pair_freq")))
      .take(k).toVector
    assert(dist == drv)
  }

  test("bpe hapax floor: 10^6 planted junk singletons change no merge") {
    // The 100 TB contract behind the floor: raw web corpora carry a
    // singleton tail (URLs, hex ids) that grows with corpus MASS, not
    // with the language — the freq >= 2 cut must drop it before the
    // driver-side collect, and dropping it must not perturb training.
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("bpe_base").toString
    val junk = java.nio.file.Files.createTempDirectory("bpe_junk").toString
    val docs = Seq.tabulate(64)(i =>
      (i.toLong, "the cat sat on the mat and the cat ran to the mat"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$base/documents.parquet")
    // 10^6 globally-unique hapax tokens, 100 per junk doc, built
    // distributed (never on the driver)
    val junkDocs = spark.range(10000).selectExpr(
      "id + 1000 AS doc_id",
      "concat_ws(' ', transform(sequence(0, 99), " +
        "j -> concat('zq', string(id * 100 + j), 'x'))) AS text")
    docs.unionByName(junkDocs).write.mode("overwrite")
      .parquet(s"$junk/documents.parquet")
    val mBase = TextAnalysis.bpeTrain(spark, base).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val mJunk = TextAnalysis.bpeTrain(spark, junk).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(mBase.nonEmpty, "base corpus trained no merges")
    assert(mJunk == mBase,
      "hapax junk leaked into training: merges or pair frequencies moved")
    // and no junk symbol ever appears in a trained merge
    assert(mJunk.forall { case (_, l, r, _) => !(l + r).contains("zq") })
  }

  test("apply_bpe matches a driver replay of train + apply") {
    val merges = TextAnalysis.bpeTrain(spark, sfDir).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
    val got = TextAnalysis.applyBpe(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_symbols_before"), r.getAs[Long]("n_tokens_after")))
      .toMap
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, text) =>
      var before = 0L; var after = 0L
      text.split(" ", -1).foreach { w =>
        var syms: IndexedSeq[String] = TextAnalysis.codePointSyms(w)
        before += syms.length
        merges.foreach { case (l, r) =>
          syms = TextAnalysis.bpeMergeOnce(syms, l, r)
        }
        after += syms.length
      }
      assert(got(id) == ((before, after)), s"doc $id")
      assert(after <= before)
    }
    // merges actually fire on this corpus: global compression < 1
    val (tb, ta) = got.values.foldLeft((0L, 0L)) {
      case ((b, a), (db, da)) => (b + db, a + da)
    }
    assert(ta < tb, "BPE merges never applied")
  }

  test("source divergence: all pairs present, TVD in [0,1], matches replay") {
    import graft.sources.Tables
    val rows = TextAnalysis.sourceDivergence(spark, sfDir).collect()
    val sources = Tables.table(spark, sfDir, "documents")
      .select("source").distinct().count().toInt
    assert(rows.length == sources * (sources - 1) / 2)
    rows.foreach { r =>
      val t = r.getAs[Double]("tvd")
      assert(t >= 0.0 && t <= 1.0, s"tvd $t out of range")
    }
    // driver replay of one pair's full-vocabulary TVD
    val docs = Tables.table(spark, sfDir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val first = rows.head
    def dist(src: String): Map[String, Long] =
      docs.filter(_._1 == src).flatMap(_._2.split(" "))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val (da, db) = (dist(first.getAs[String]("src_a")),
      dist(first.getAs[String]("src_b")))
    val (na, nb) = (da.values.sum.toDouble, db.values.sum.toDouble)
    val tvd = (da.keySet ++ db.keySet).toSeq.map { t =>
      math.abs(da.getOrElse(t, 0L) / na - db.getOrElse(t, 0L) / nb)
    }.sum / 2.0
    assert(math.abs(first.getAs[Double]("tvd") - tvd) < 1e-9,
      "shared-token identity must reproduce the full-vocabulary TVD")
  }

  test("frequency spectrum: mass sums to the corpus token count") {
    import graft.sources.Tables
    val rows = TextAnalysis.freqSpectrum(spark, sfDir).collect()
    val totalTokens = Tables.table(spark, sfDir, "documents")
      .select(explode(split(col("text"), " "))).count()
    assert(rows.map(_.getAs[Long]("token_mass")).sum == totalTokens)
    val totalTypes = Tables.table(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .select("t").distinct().count()
    assert(rows.map(_.getAs[Long]("n_types")).sum == totalTypes)
    rows.foreach(r => assert(
      r.getAs[Long]("token_mass") ==
        r.getAs[Long]("token_count") * r.getAs[Long]("n_types")))
  }

  test("pmi pairs: support floor respected, lift matches a driver recompute") {
    import graft.sources.Tables
    val rows = TextAnalysis.pmiPairs(spark, sfDir).collect()
    assert(rows.length <= TextAnalysis.PmiTopK)
    assert(rows.forall(_.getAs[Long]("n_pair") >= TextAnalysis.PmiMinSupport))
    // driver recompute on the raw corpus for one reported pair
    val docs = Tables.table(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0))
    val toks = docs.flatMap(_.split(" "))
    val bigrams = docs.flatMap(_.split(" ").sliding(2)
      .filter(_.length == 2).map(_.mkString(" ")).toSeq)
    val r = rows.head
    val bg = r.getAs[String]("bigram")
    val Array(w1, w2) = bg.split(" ")
    assert(r.getAs[Long]("n_pair") == bigrams.count(_ == bg))
    assert(r.getAs[Long]("n_first") == toks.count(_ == w1))
    assert(r.getAs[Long]("n_second") == toks.count(_ == w2))
    val lift = (r.getAs[Long]("n_pair").toDouble / bigrams.length) /
      ((r.getAs[Long]("n_first").toDouble / toks.length) *
        (r.getAs[Long]("n_second").toDouble / toks.length))
    assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-9)
    // the list is lift-descending with a deterministic tiebreak
    val lifts = rows.map(_.getAs[Double]("lift"))
    assert(lifts.sameElements(lifts.sortBy(-_)))
  }

  test("per-source quality quartiles match a brute-force sorted pick") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val scores = TextAnalysis.quality(spark, sfDir)
      .select("doc_id", "quality_score").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("quality_score")))
    val bySource = scores.groupBy(t => docs(t._1)).map { case (s, g) =>
      val sorted = g.sortBy(t => (t._2, t._1)).map(_._2)
      def pick(q: Double) = sorted(math.ceil(sorted.length * q).toInt - 1)
      s -> (sorted.length.toLong, pick(0.25), pick(0.5), pick(0.75))
    }
    val rows = TextAnalysis.qualityBySource(spark, sfDir).collect()
    assert(rows.length == bySource.size)
    rows.foreach { r =>
      val (n, q25, q50, q75) = bySource(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Double]("q25") == q25)
      assert(r.getAs[Double]("q50") == q50)
      assert(r.getAs[Double]("q75") == q75)
      assert(q25 <= q50 && q50 <= q75)
    }
  }

  test("pii profile counts a planted corpus exactly (shipped corpus is clean)") {
    import spark.implicits._
    // shipped corpus: the all-zero state is the true report
    val real = TextAnalysis.piiProfile(spark, sfDir).collect()
    assert(real.nonEmpty)
    real.foreach(r => assert(r.getAs[Long]("n_docs_with_pii") == 0L &&
      r.getAs[Double]("pii_per_kchar") == 0.0))
    // planted corpus: every pattern and the rollup arithmetic
    val docs = Seq(
      (1L, "contact me at jane.doe+x@example.co.uk or 10.0.0.1", "web"),
      (2L, "call 555-123-4567 or +4915112345678 today", "web"),
      (3L, "nothing sensitive here at all", "web"),
      (4L, "two mails a@b.io c@d.org and ip 192.168.1.1", "logs"),
      (5L, "clean", "logs")
    ).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val rows = TextAnalysis.piiProfileOf(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val web = rows("web")
    assert(web.getAs[Long]("n_docs") == 3 &&
      web.getAs[Long]("n_docs_with_pii") == 2 &&
      web.getAs[Long]("n_emails") == 1 && web.getAs[Long]("n_ips") == 1 &&
      web.getAs[Long]("n_phones") == 2)
    assert(web.getAs[Double]("pii_doc_rate") == 2.0 / 3.0)
    val logs = rows("logs")
    assert(logs.getAs[Long]("n_docs_with_pii") == 1 &&
      logs.getAs[Long]("n_emails") == 2 && logs.getAs[Long]("n_ips") == 1 &&
      logs.getAs[Long]("n_phones") == 0)
  }

  /** Brute-force interpolated Kneser-Ney replay of order `n` over
    * (doc_id, text): per document, (n-gram count, mean probability
    * through the fixed-point floor). Each lower-order table is the one
    * above rolled up one word from the left, so its counts are
    * continuation counts; the unigram level is N₁₊(·w) over the bigram
    * types. Tokens are `split(" ", -1)`, as the kernel's. */
  private def knReplay(docs: Seq[(Long, String)], n: Int): Map[Long, (Long, Double)] = {
    val grams = docs.flatMap { case (id, text) =>
      text.split(" ", -1).toList.sliding(n).filter(_.length == n).map(id -> _)
    }
    val top = grams.groupBy(_._2).map { case (g, o) => g -> o.length.toLong }
    // levels(k) holds the order-(n − k) types, keyed by their words
    val levels = (1 to n - 2).scanLeft(top) { (upper, _) =>
      upper.keys.toSeq.groupBy(_.tail).map { case (g, o) => g -> o.size.toLong }
    }
    val ctx = levels.map(_.groupBy(_._1.init)
      .map { case (h, m) => h -> (m.values.sum, m.size.toLong) })
    val cu = levels.last.keys.toSeq.groupBy(_.last)
      .map { case (w, g) => w -> g.size.toLong }
    val bt = levels.last.size.toLong
    val d = TextAnalysis.KnDiscount
    def p(g: List[String], k: Int): Double = {
      val (ct, nf) = ctx(k)(g.init)
      val lower =
        if (k == levels.size - 1) cu(g.last).toDouble / bt.toDouble
        else p(g.tail, k + 1)
      (levels(k)(g).toDouble - d) / ct.toDouble +
        ((d * nf.toDouble) / ct.toDouble) * lower
    }
    grams.groupBy(_._1).map { case (id, gs) =>
      val s = gs.map { case (_, g) => math.floor(p(g, 0) * 1000000000L.toDouble) }.sum
      id -> (gs.length.toLong, s / 1e9 / gs.length)
    }
  }

  /** The `key` query at sfDir against [[knReplay]] of order `n`. */
  private def assertKnReplay(key: String, n: Int, countCol: String,
      scoreCol: String): Unit = {
    val docs = Tables.table(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toSeq
    val expected = knReplay(docs, n)
    val rows = graft.SparkEntry.queries(key)(spark, sfDir).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (cnt, score) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long](countCol) == cnt)
      assert(r.getAs[Double](scoreCol) == score)
      assert(score > 0.0 && score <= 1.0)
    }
  }

  test("kn3 score matches a brute-force trigram Kneser-Ney replay") {
    assertKnReplay("txt_kn3_score", 3, "n_trigrams", "kn3_score")
  }

  test("kn score matches a brute-force Kneser-Ney replay") {
    assertKnReplay("txt_kn_score", 2, "n_bigrams", "kn_score")
  }

  test("kn5 score matches a brute-force 5-gram Kneser-Ney replay") {
    assertKnReplay("txt_kn5_score", 5, "n_5grams", "kn5_score")
  }

  test("kn kernel: sub-n docs get no row, a doubled space is an empty token (planted)") {
    import spark.implicits._
    val planted = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat"),
      (3L, "the  cat sat"), // tokens: the, "", cat, sat
      (4L, "on the mat the cat sat on"))
    Seq(2, 3, 5).foreach { n =>
      val rows = TextAnalysis.knScoreOf(planted.toDF("doc_id", "text"), n,
        "n_grams", "score").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_grams"), r.getAs[Double]("score"))).toMap
      assert(rows == knReplay(planted, n), s"n=$n")
      val nTokens = Map(1L -> 6, 2L -> 2, 3L -> 4, 4L -> 7)
      assert(rows.keySet == nTokens.filter(_._2 >= n).keySet, s"n=$n")
      rows.foreach { case (id, (cnt, _)) => assert(cnt == nTokens(id) - n + 1, s"n=$n") }
    }
  }

  test("topgram share: slogan-stamping, ties, and sub-n docs (planted)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x y x y"),          // "x y" x3 of 11 chars -> 9/11, flagged
      (2L, "a b c a b c"),          // tie at 2 between "a b"/"b c" -> min "a b"
      (3L, "one"),                  // no 2-grams at all -> zeros, NULL grams
      (4L, "the quick brown fox jumps over the lazy dog again") // clean
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topgramShareOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("top2_gram") == "x y")
    assert(out(1L).getAs[Double]("top2_frac") == 9.0 / 11.0)
    assert(out(1L).getAs[Boolean]("flagged"))
    assert(out(2L).getAs[String]("top2_gram") == "a b")
    assert(out(3L).isNullAt(out(3L).fieldIndex("top2_gram")))
    assert(out(3L).getAs[Double]("top2_frac") == 0.0 &&
      !out(3L).getAs[Boolean]("flagged"))
    // the clean doc repeats only "the": top-2-gram share stays small
    assert(!out(4L).getAs[Boolean]("flagged"))
  }

  test("ccnet buckets: exact per-language terciles ordered by fluency") {
    val rows = TextAnalysis.ccnetBucket(spark, sfDir).collect()
    // covers exactly the scored (≥2-token) docs
    assert(rows.length == TextAnalysis.lmScore(spark, sfDir).count())
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_.getAs[Int]("bucket_idx"))
        .map { case (b, v) => b -> v.length }
      // terciles partition the language; sizes differ by at most 1
      assert(sizes.keySet.subsetOf(Set(0, 1, 2)), lang)
      assert(sizes.values.sum == rs.length, lang)
      if (rs.length >= 3)
        assert(sizes.values.max - sizes.values.min <= 1, lang)
      // fluency ordering: every head score >= every tail score
      val byB = (b: Int) => rs.filter(_.getAs[Int]("bucket_idx") == b)
        .map(_.getAs[Double]("lm_score"))
      if (byB(0).nonEmpty && byB(2).nonEmpty)
        assert(byB(0).min >= byB(2).max, lang)
      // label mapping
      rs.foreach { r =>
        val expect = r.getAs[Int]("bucket_idx") match {
          case 0 => "head"; case 1 => "middle"; case _ => "tail"
        }
        assert(r.getAs[String]("bucket") == expect)
      }
    }
  }
}
