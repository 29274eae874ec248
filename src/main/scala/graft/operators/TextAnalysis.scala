package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.{RollingHash, Shingles, TokenStats}
import graft.sources.Tables

/** Text-analysis operators over the `documents` table: stats, language
  * ID, quality scoring, n-gram counting, fingerprinting. All pure
  * expression pipelines (split/transform/filter/explode) — no UDFs, so
  * every stage stays in whole-stage codegen and scales linearly.
  */
object TextAnalysis {

  /** Tiny deterministic stopword lexicons per language (heuristic
    * language ID by lexicon-hit voting — the classic n-gram/stopword
    * profile approach at its simplest). */
  val lexicon: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "of" -> "en", "and" -> "en", "is" -> "en",
    "der" -> "de", "die" -> "de", "das" -> "de", "und" -> "de", "ist" -> "de",
    "el" -> "es", "la" -> "es", "los" -> "es", "y" -> "es", "es" -> "es",
    "le" -> "fr", "les" -> "fr", "et" -> "fr", "du" -> "fr", "dans" -> "fr",
    "的" -> "zh", "是" -> "zh", "在" -> "zh")

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "is")

  /** Per-document size stats (chars, tokens, distinct tokens, mean
    * token length). */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    Tables.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(t).as("n_tokens"),
        size(array_distinct(t)).as("n_uniq_tokens"),
        ((length(col("text")) - (size(t) - lit(1))) * lit(1.0) / size(t))
          .as("avg_token_len"))
      .orderBy("doc_id")
  }

  /** Language ID: explode tokens, broadcast-join the lexicon, vote. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents")
    val lex  = lexicon.toDF("token", "lex_lang")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val scores = toks.join(broadcast(lex), "token")
      .groupBy("doc_id", "lex_lang").agg(count(lit(1)).as("hits"))
    val best = scores
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("hits").desc, col("lex_lang"))))
      .where(col("rn") === 1)
    docs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("lex_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy("doc_id")
  }

  /** `txt_lang_confusion`: declared-vs-detected language confusion
    * matrix — the mislabeled-language gate a multilingual corpus is
    * screened with before per-language sampling quotas are trusted:
    * each [[langId]] prediction joined back to the document's declared
    * `lang`, rolled up to (declared, predicted) cells with the cell's
    * share of its declared language and an agreement flag. A feed
    * whose off-diagonal mass rises is shipping wrong `lang` tags (or
    * the detector's lexicon has gone stale for that language).
    *
    * Scale shape: the detector is the existing broadcast-lexicon vote;
    * the rollup is a language-catalog-sized groupBy, and the per-lang
    * totals join is a broadcast of at most |langs|+1 rows. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val cells = langId(spark, dir).select("doc_id", "pred_lang")
      .join(docs, "doc_id")
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy("lang").agg(sum("n_docs").as("lang_total"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("pred_lang"), col("n_docs"), col("lang_total"),
        (col("n_docs").cast("double") / col("lang_total").cast("double"))
          .as("cell_share"),
        (col("lang") === col("pred_lang")).as("agree"))
      .orderBy("lang", "pred_lang")
  }

  /** Quality score: distinct-token ratio, stopword ratio, punctuation
    * ratio, length band — the length/punct/stopword heuristics of
    * LLM-corpus filtering. */
  def quality(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id") +: qualityColumns: _*)
      .orderBy("doc_id")

  /** [[quality]]'s columns as expressions over `text`, so a consumer
    * that reads `documents` computes them in the same projection. */
  private def qualityColumns: Seq[Column] = {
    val t = split(col("text"), " ")
    val nTok   = size(t)
    val uniqRatio = size(array_distinct(t)) * lit(1.0) / nTok
    // native codegen count (duplicates counted) — the higher-order
    // filter(t, isInCollection) is CodegenFallback, interpreted per row
    val stopHits  = graft.functions.TokenSetHits.column(col("text"), stopwords)
    val stopRatio = stopHits * lit(1.0) / nTok
    // empty text has no characters: ratio 0, not a division by zero
    val punctRatio = when(length(col("text")) === 0, lit(0.0)).otherwise(
      size(regexp_extract_all(col("text"), lit("""[^\w\s]"""), lit(0))) *
        lit(1.0) / length(col("text")))
    val lenOk  = nTok.between(20, 80)
    // raw double score (no ROUND: half-way tie rounding differs between
    // engines; the expression itself is bit-deterministic)
    val score  =
      lit(0.5) * uniqRatio +
        lit(0.3) * least(stopRatio * lit(4.0), lit(1.0)) +
        lit(0.2) * when(lenOk, lit(1.0)).otherwise(lit(0.0)) -
        lit(0.2) * least(punctRatio * lit(10.0), lit(1.0))
    Seq(nTok.as("n_tokens"), uniqRatio.as("uniq_ratio"),
      stopRatio.as("stop_ratio"), punctRatio.as("punct_ratio"),
      score.as("quality_score"), (score >= 0.5).as("passed"))
  }

  /** `documents` with each document's [[TokenStats]] struct as `s`: the
    * token statistics of [[repRatio]], [[lexicalDiversity]] and
    * [[qualityEnsemble]], computed in the task that reads the row.
    * `doc_id` is unique and `text` non-null (TablesSpec), so one output
    * row per document, as the doc_id-keyed derivations gave. */
  private def docTokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        TokenStats.column(col("text")).as("s"))

  /** Fraction of a document's k-grams (k = 2, 3) that repeat an earlier
    * k-gram of the same document; 0 when it has none. */
  private def dupGramRatio(k: Int): Column = {
    val n = col(s"s.n_${k}grams")
    when(n > 0, (n - col(s"s.d_${k}grams")) * lit(1.0) / n).otherwise(lit(0.0))
  }

  /** Type-token ratio. */
  private val ttr: Column = col("s.n_types") * lit(1.0) / col("s.n_tokens")

  /** Corpus-wide top-20 bigrams (native codegen n-gram expression). */
  def topNgrams(spark: SparkSession, dir: String): DataFrame = {
    Tables.table(spark, dir, "documents")
      .select(explode(call_function("graft_word_ngrams", col("text"), lit(2)))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * segmentation (words + individual punctuation marks — the shape a
    * byte-pair pre-tokenizer produces). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit("""\w+|[^\w\s]"""), lit(0)))
          .as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Tokens per training chunk and the stride between chunk starts
    * (stride < size ⇒ overlapping context windows). */
  val ChunkSize = 64
  val ChunkStride = 48

  /** Context-window chunking — split every document into fixed-token
    * overlapping chunks, the step between corpus text and model inputs.
    * Pure per-row expressions (split → generated chunk starts → slice →
    * join); the only work is the generator's row expansion, map-side,
    * no shuffle besides the output sort — at 100 TB chunking is a pass
    * over the corpus, never a stateful operator. */
  def chunks(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), t.as("toks"), size(t).as("n"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          expr(s"CAST((n - 1) DIV $ChunkStride AS INT)"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("toks"), col("chunk_idx") * ChunkStride + 1, lit(ChunkSize))
          .as("ctoks"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ctoks")).as("n_chunk_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Intra-document repetition — the duplicate-n-gram quality signal of
    * LLM corpus filtering (a document that repeats its own 2/3-grams is
    * boilerplate or a crawler loop): fraction of word n-grams that are
    * repeats within the document. One projection of the per-row
    * [[TokenStats]] kernel — no shuffle besides the output sort. */
  def repRatio(spark: SparkSession, dir: String): DataFrame =
    docTokenStats(spark, dir)
      .select(col("doc_id"), col("s.n_2grams").cast("int").as("n_2grams"),
        dupGramRatio(2).as("dup_2gram_ratio"),
        col("s.n_3grams").cast("int").as("n_3grams"),
        dupGramRatio(3).as("dup_3gram_ratio"))
      .orderBy("doc_id")

  /** `txt_lexical`: per-document lexical-diversity profile — token and
    * type counts, type-token ratio, hapax-legomenon fraction, and the
    * Simpson repeat probability Σcᵢ(cᵢ−1)/n(n−1) (the chance two
    * randomly drawn tokens are the same word — the transcendental-free
    * dual of entropy: machine text and template spam score high, while
    * [[repRatio]] catches ADJACENT repetition, this catches global
    * vocabulary collapse).
    *
    * Scale shape: one projection of the per-row [[TokenStats]] kernel,
    * whose hash table is bounded by a document's vocabulary — no
    * shuffle besides the output sort. All four sufficient statistics
    * are exact integers; each ratio is a single IEEE division,
    * identical both engines. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val nTok = col("s.n_tokens")
    docTokenStats(spark, dir)
      .select(col("doc_id"), nTok, col("s.n_types"), col("s.n_hapax"),
        ttr.as("ttr"),
        (col("s.n_hapax") * lit(1.0) / col("s.n_types")).as("hapax_frac"),
        when(nTok >= 2, col("s.rep_pairs") * lit(1.0) / (nTok * (nTok - 1)))
          .otherwise(lit(0.0)).as("simpson_rep"))
      .orderBy("doc_id")
  }

  /** PII patterns shared by the Spark operator and the DuckDB oracle.
    * Kept to constructs Java regex and RE2 parse identically (classes,
    * bounded repeats, \b, alternation — no lookaround). */
  val EmailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Pat = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val PhonePat = """\+\d{9,15}|\b\d{3}[-.]\d{3}[-.]\d{4}\b"""

  /** PII redaction — scrub emails/IPv4s/phone numbers to typed tags and
    * count detections, the pre-training privacy scrub. Counts come from
    * the original text per pattern; replacement applies email → IP →
    * phone so a tag never partially matches a later pattern. */
  def redact(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Ipv4Pat), lit(0))).as("n_ips"),
        size(regexp_extract_all(col("text"), lit(PhonePat), lit(0))).as("n_phones"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          EmailPat, "<EMAIL>"), Ipv4Pat, "<IP>"), PhonePat, "<PHONE>")
          .as("redacted"))
      .orderBy("doc_id")

  /** `txt_pii_profile`: per-source PII exposure report — the
    * compliance rollup published BEFORE [[redact]] rewrites anything:
    * per source, how many documents carry any email/IPv4/phone match,
    * the per-type totals, and the match density per kilochar. A source
    * whose density spikes is quarantined wholesale (scraped dumps of
    * contact pages, leaked logs) rather than laundered doc-by-doc
    * through redaction.
    *
    * Scale shape: ONE partial-aggregating groupBy of the corpus on
    * source — counting is map-side ([[EmailPat]]/[[Ipv4Pat]]/
    * [[PhonePat]], the same Java-regex∩RE2-portable patterns the
    * redactor and its oracle share); rates are exact-integer
    * divisions. (The shipped synthetic corpus is PII-free, so the
    * oracle pins the report's correct all-zero state; the planted-
    * corpus spec pins the counting itself.) */
  def piiProfile(spark: SparkSession, dir: String): DataFrame =
    piiProfileOf(Tables.table(spark, dir, "documents"))

  private[graft] def piiProfileOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("n_chars"),
        size(regexp_extract_all(col("text"), lit(EmailPat), lit(0)))
          .cast("long").as("e"),
        size(regexp_extract_all(col("text"), lit(Ipv4Pat), lit(0)))
          .cast("long").as("i"),
        size(regexp_extract_all(col("text"), lit(PhonePat), lit(0)))
          .cast("long").as("p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("i") + col("p") > 0, 1L).otherwise(0L))
          .as("n_docs_with_pii"),
        sum(col("e")).as("n_emails"), sum(col("i")).as("n_ips"),
        sum(col("p")).as("n_phones"), sum(col("n_chars")).as("tot_chars"))
      .select(col("source"), col("n_docs"), col("n_docs_with_pii"),
        col("n_emails"), col("n_ips"), col("n_phones"),
        (col("n_docs_with_pii").cast("double") / col("n_docs").cast("double"))
          .as("pii_doc_rate"),
        (((col("n_emails") + col("n_ips") + col("n_phones"))
          .cast("double") * lit(1000.0)) / col("tot_chars").cast("double"))
          .as("pii_per_kchar"))
      .orderBy("source")

  /** Per-language corpus profile — the snapshot report a data pipeline
    * publishes per ingest: document/token counts, mean quality and pass
    * rate by language. One partial-aggregating groupBy over the quality
    * scan; the mean uses the fixed-point money-sum discipline so it is
    * order-independent and engine-portable. */
  def corpusProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .join(quality(spark, dir)
        .select(col("doc_id"), col("n_tokens"), col("quality_score"), col("passed")),
        "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        Gold.moneySum(col("quality_score")).as("sum_q"),
        sum(when(col("passed"), 1L).otherwise(0L)).as("n_passed"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        (col("sum_q") / col("n_docs")).as("mean_quality"),
        (col("n_passed") * lit(1.0) / col("n_docs")).as("pass_rate"))
      .orderBy("lang")

  /** Text normalization — the canonical form computed before exact
    * dedup/fingerprinting so trivial variants (case, runs of spaces,
    * surrounding whitespace) collapse to one representative: lowercase,
    * collapse whitespace runs, trim. Pure per-row codegen expressions. */
  def normalize(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), """\s+""", " "))
          .as("norm_text"),
        (trim(regexp_replace(lower(col("text")), """\s+""", " "))
          =!= col("text")).as("changed"))
      .orderBy("doc_id")

  /** Rolling-hash fingerprint via the custom codegen expression. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        RollingHash.rollingHash(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Terms kept per document by [[tfidf]]. */
  val TfidfTopK = 5

  /** Fixed-point scale for the per-doc mean in [[lmScore]]:
    * probabilities are in (0, 1], so 1e9 keeps nine decimals while the
    * decimal running sum stays exact and order-independent. */
  val LmScale = 1000000000L

  /** BM25 parameters (the textbook defaults) and the deterministic
    * query-term set of the contract query. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms: Seq[String] = Seq("spark", "vector", "query")
  val Bm25TopK = 20

  /** BM25 retrieval scoring — rank the corpus against a query term set,
    * the retrieval-evaluation primitive of a training-data pipeline
    * (dedup against eval queries, quality-weighted retrieval mixes).
    * idf is the RATIONAL BM25 form (N−df+0.5)/(df+0.5)+1 without the
    * ln wrapper (the same no-transcendentals discipline as [[tfidf]] —
    * monotone in the classic idf, engine-portable); per-doc term
    * contributions sum through the fixed-point decimal path so the
    * score is order-independent.
    *
    * Scale shape: the term filter lands on the exploded token stream
    * BEFORE any aggregation (only query-term hits shuffle); df/avgdl/N
    * are tiny aggregates broadcast back; final top-k is a
    * TakeOrderedAndProject, never a global window. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.table(spark, dir, "documents")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .where(col("token").isInCollection(Bm25Terms))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum(size(split(col("text"), " ")).cast("long")).cast("double")
        / count(lit(1))).as("avgdl"))
    val term = tf.join(broadcast(df), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
          ((col("tf").cast("double") * (lit(Bm25K1) + lit(1.0)))
            / (col("tf").cast("double") + lit(Bm25K1) *
              (lit(1.0) - lit(Bm25B) + lit(Bm25B) *
                (col("dl").cast("double") / col("avgdl")))))).as("s"))
    term.groupBy("doc_id")
      .agg(sum(floor(col("s") * lit(LmScale.toDouble))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("fs"))
      .select(col("doc_id"),
        (col("fs").cast("double") / lit(LmScale.toDouble)).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** Corpus bigram-LM fluency scoring — the statistical-LM quality
    * signal of classic corpus filtering (a document whose token
    * transitions are improbable under the corpus's own bigram model is
    * noise or boilerplate): train add-one-smoothed bigram probabilities
    * p(b|a) = (c(ab)+1)/(c(a)+V) on the whole corpus, score each
    * document by its MEAN transition probability. The mean (not the
    * log-likelihood product) keeps every op in +,×,/ — ln/exp disagree
    * between libm implementations in the last ulp and would break the
    * cross-engine hash gate; as a per-doc ranking signal the two orders
    * differ only in tail weighting.
    *
    * Scale shape: one bigram explode (map-side) feeding both the count
    * model and the scoring stream; c(ab)/c(a) are vocabulary-sized
    * aggregates (partial map-side), joined back by key; V is a
    * broadcast 1-row aggregate; the per-doc mean is a fixed-point
    * decimal sum, order-independent under any partitioning. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    // r16: per-word xxhash64 keys (see knScoreOf — the model keys on
    // word IDENTITY only and no output column carries text, so the
    // count tables and the corpus-sized scoring join shuffle 8-byte
    // keys; a bigram string maps bijectively onto its word pair —
    // tokens cannot contain the separator — so grouping by the two
    // word hashes is grouping by the bigram, modulo xxhash64 vocabulary
    // collisions, which every verified SF re-disproves via the oracle)
    val bg = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(call_function("graft_word_ngrams", col("text"), lit(2)))
          .as("bigram"))
      .withColumn("ws", split(col("bigram"), " "))
      .select(col("doc_id"),
        xxhash64(col("ws").getItem(0)).as("ctx"),
        xxhash64(col("ws").getItem(1)).as("nxt"))
    val c2 = bg.groupBy("ctx", "nxt").agg(count(lit(1)).as("c2"))
    val c1 = Tables.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(xxhash64(col("token")).as("ctx")).agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    // r15: p(b|a) is a function of the bigram TYPE alone, so finish it
    // on the vocabulary-sized type table and join the TOKEN STREAM once
    // — the old plan joined the stream on bigram AND then on ctx,
    // shuffling the corpus-sized stream twice. Same expression tree,
    // bit-identical doubles.
    val ptype = c2
      .join(c1, "ctx")
      .crossJoin(broadcast(v))
      .select(col("ctx"), col("nxt"),
        ((col("c2").cast("double") + lit(1.0))
          / (col("c1").cast("double") + col("v").cast("double"))).as("p"))
    docMean(bg.join(ptype, Seq("ctx", "nxt")).select(col("doc_id"), col("p")),
      "n_bigrams", "lm_score")
  }

  /** `txt_ccnet_bucket`: CCNet-style per-language fluency bucketing
    * (Wenzek et al. 2020 §4.3) — within each language, documents sort
    * by [[lmScore]]'s fluency DESCENDING (doc_id tiebreak) and split
    * into exact terciles: `head` (the most fluent third CCNet keeps
    * unconditionally), `middle`, `tail` (the third it drops or
    * down-samples). A GLOBAL fluency cutoff would silently gut
    * low-resource languages whose n-gram statistics run thinner — the
    * same failure mode `txt_quality_by_source` guards per source;
    * this is the per-LANGUAGE version on the LM signal, and the
    * standard pre-mixing partition of a multilingual crawl.
    *
    * Docs with fewer than two tokens carry no bigram score and are
    * not bucketable (excluded, as in [[lmScore]]).
    *
    * Scale shape: the LM scoring is [[lmScore]]'s type-table plan; the
    * within-language rank is [[SkewUtils.groupRank]] (range-partitioned
    * prefix scan — one mega-language never funnels one window task);
    * bucket arithmetic is an all-integer `((rank−1)·3) DIV n` on a
    * broadcast language-catalog count join. */
  def ccnetBucket(spark: SparkSession, dir: String): DataFrame = {
    // LAZY lineage cut: groupRank's two prefix scans + the catalog
    // count each re-derive their input, and re-running the LM type-
    // table joins three times is the whole query cost; the checkpoint
    // is a 3-column doc-catalog frame, materialized once at first
    // action (not at construction — Explain stays plan-only)
    val scored = lmScore(spark, dir).select(col("doc_id"), col("lm_score"))
      .join(Tables.table(spark, dir, "documents").select("doc_id", "lang"),
        "doc_id")
      .localCheckpoint(false)
    val ranked = SkewUtils.groupRank(scored, "lang",
      Seq(col("lm_score").desc, col("doc_id").asc), "rn")
    val nl = scored.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    ranked.join(broadcast(nl), "lang")
      .withColumn("bucket_idx",
        expr("((CAST(rn AS BIGINT) - 1) * 3) DIV n_lang").cast("int"))
      .select(col("doc_id"), col("lang"), col("lm_score"), col("bucket_idx"),
        when(col("bucket_idx") === 0, "head")
          .when(col("bucket_idx") === 1, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** `txt_quality_by_source`: per-source quality calibration — exact
    * quartiles (the value at rank ⌈q·n⌉ ascending, doc_id tiebreak) of
    * [[quality]]'s score within each source. A GLOBAL quality cutoff
    * silently drops whole sources whose score distribution sits lower
    * (the known failure mode per-source thresholds fix in LLM data
    * recipes); this emits the per-source distribution the mixing step
    * calibrates against, next to `txt_source_divergence`'s pairwise
    * view.
    *
    * Scale shape: within-source ranks come from [[SkewUtils.groupRank]]
    * (range-partitioned prefix scan — a mega-source never funnels one
    * task, which is exactly the failure a `row_number() OVER
    * (PARTITION BY source)` would reintroduce); the quartile picks are
    * three rank-equality filters folded into ONE conditional aggregate;
    * n·q products use exact-binary fractions (0.25/0.5/0.75) so the
    * rank cuts are engine-identical. */
  def qualityBySource(spark: SparkSession, dir: String): DataFrame = {
    val scored = quality(spark, dir).select(col("doc_id"), col("quality_score"))
      .join(Tables.table(spark, dir, "documents").select("doc_id", "source"),
        "doc_id")
    val ranked = SkewUtils.groupRank(scored, "source",
      Seq(col("quality_score").asc, col("doc_id").asc), "rk")
    val counts = scored.groupBy("source").agg(count(lit(1)).as("n_docs"))
    def pick(q: Double): org.apache.spark.sql.Column =
      max(when(col("rk") === ceil(col("n_docs").cast("double") * lit(q))
        .cast("long"), col("quality_score")))
    ranked.join(broadcast(counts), "source")
      .groupBy("source")
      .agg(max(col("n_docs")).as("n_docs"),
        pick(0.25).as("q25"), pick(0.5).as("q50"), pick(0.75).as("q75"))
      .orderBy("source")
  }

  /** Absolute discount of [[knScoreOf]] — the textbook Kneser-Ney
    * constant (Chen & Goodman 1999 use c(ab)-count-based estimates;
    * 0.75 is the standard fixed choice). Exactly representable in
    * binary, so the discounted numerators are engine-identical. */
  val KnDiscount = 0.75

  /** Interpolated Kneser-Ney n-gram fluency scoring for any order
    * n ≥ 2 — the modern-smoothing upgrade of [[lmScore]]'s add-one
    * model, and at n = 5 the STANDARD pretraining fluency filter
    * (KenLM-class models: CCNet, RefinedWeb and Gopher all filter on a
    * 5-gram KN perplexity). `txt_kn_score`, `txt_kn3_score` and
    * `txt_kn5_score` are this kernel at n = 2, 3 and 5. One row per
    * document with at least n tokens: `countCol` = its n-gram count,
    * `scoreCol` = its mean n-gram probability.
    *
    * Recursion (Chen & Goodman 1999). Level k is the order-k type table
    * over the last k words; level n counts the corpus n-grams, and each
    * lower level is the one above rolled up one position from the left,
    * so its count ĉ is a continuation count (distinct words preceding
    * the gram) and document-initial shorter grams never skew the
    * backoff. With h the level's context (all but its last word w):
    *
    *   pₖ(w|h) = (c − d)/c(h·) + (d·N₁₊(h·)/c(h·)) · pₖ₋₁(w|h′)
    *   p₁(w)   = N₁₊(·w) / |level-2 types|
    *
    * where h′ drops h's first word, c(h·) sums the level's counts over
    * h, N₁₊(h·) counts its types and d = [[KnDiscount]]. The
    * continuation counts are what keep high-frequency but context-bound
    * tokens ("Francisco") from inflating scores, the boilerplate failure
    * mode of add-one filtering. Every count is ≥ 1, so each discounted
    * numerator is positive without a max. Every op is +,−,×,/ over
    * exact counts in a FIXED association order (no ln, same as
    * [[lmScore]]) and the per-doc mean goes through the fixed-point
    * floor, so the doubles are engine-identical.
    *
    * Scale shape: an explicit-width exchange on doc_id precedes the
    * ~len× explode (the dupCoverageOf discipline: AQE sizes stage
    * coalescing on the tiny PRE-explode bytes and would fold n-gram
    * generation into one task). ONE explode feeds the top type table;
    * the n − 2 lower tables are successive rollups of it, each bounded
    * by the TYPES of the one above and all Heaps-sublinear in corpus
    * mass. Every level table feeds its context rollup, the next rollup
    * and its interpolation join, so each is `localCheckpoint`ed (the
    * context rollups are read once and are not; ReuseExchange does not
    * fire across differently-aliased branches). The type total is a
    * broadcast 1-row aggregate.
    *
    * r15: p is a function of the n-gram TYPE alone, so the
    * interpolation is evaluated BOTTOM-UP, each order finished on its
    * own table (level ⋈ context ⋈ lower order), and the corpus-sized
    * token stream joins exactly ONCE, on the finished per-type score.
    *
    * r16 (the dd_admission hash-before-shuffle pattern): no join or
    * output column reads word text, so the token stream and every type
    * table shuffle 8-byte xxhash64 word keys instead of strings. Counts
    * and joins are identical while no two distinct corpus words collide
    * in xxhash64 (vocabulary is Heaps-sized; the hash gate re-proves it
    * at every verified SF), and every join matches on ALL its per-word
    * keys, so a single-word collision cannot merge gram types by
    * itself. */
  private[graft] def knScoreOf(docs: DataFrame, n: Int, countCol: String,
      scoreCol: String): DataFrame = {
    require(n >= 2, s"Kneser-Ney order must be at least 2, got $n")
    val np = docs.sparkSession.sessionState.conf.numShufflePartitions
    val w = (1 to n).map(i => s"w$i")
    val tg = docs.select(col("doc_id"), col("text"))
      .repartition(np, col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("graft_word_ngrams", col("text"), lit(n)))
          .as("g"))
      .withColumn("ws", split(col("g"), " "))
      .select(col("doc_id") +: w.indices.map(i =>
        xxhash64(col("ws").getItem(i)).as(w(i))): _*)
    def types(t: DataFrame, keys: Seq[String]): DataFrame =
      t.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c")).localCheckpoint()
    // levels(j) is the order-(n − j) table, keyed by w.drop(j)
    val levels = (1 to n - 2).scanLeft(types(tg, w))((t, j) => types(t, w.drop(j)))
    val d = lit(KnDiscount)
    def dbl(c: String): Column = col(c).cast("double")
    // one order of the recursion, finished on its own table: the level
    // joined to its context rollup, then `lower` joins the order below
    def interpolate(level: DataFrame, keys: Seq[String], lowerP: Column)(
        lower: DataFrame => DataFrame): DataFrame = {
      val ctx = level.groupBy(keys.init.map(col): _*)
        .agg(sum("c").as("ct"), count(lit(1)).as("nf"))
      lower(level.join(ctx, keys.init))
        .select(keys.map(col) :+
          ((dbl("c") - d) / dbl("ct") + ((d * dbl("nf")) / dbl("ct")) * lowerP)
            .as("p"): _*)
    }
    val bottom = levels.last
    val p2 = interpolate(bottom, w.takeRight(2), dbl("cu") / dbl("bt"))(
      _.join(bottom.groupBy(w.last).agg(count(lit(1)).as("cu")), Seq(w.last))
        .crossJoin(broadcast(bottom.agg(count(lit(1)).as("bt")))))
    val ptype = levels.indices.init.reverseIterator.foldLeft(p2) { (lower, j) =>
      interpolate(levels(j), w.drop(j), col("p"))(_.join(lower, w.drop(j + 1)))
    }
    docMean(tg.join(ptype, w).select(col("doc_id"), col("p")), countCol, scoreCol)
  }

  /** The per-document mean of `p` over (doc_id, p) rows: `countCol`
    * rows, mean `scoreCol`. The sum is over `p` floored onto the
    * [[LmScale]] fixed-point grid, exact and order-free in both
    * engines. */
  private def docMean(p: DataFrame, countCol: String, scoreCol: String): DataFrame =
    p.groupBy("doc_id")
      .agg(count(lit(1)).as(countCol),
        sum(floor(col("p") * lit(LmScale.toDouble))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
      .select(col("doc_id"), col(countCol),
        (col("s").cast("double") / lit(LmScale.toDouble) / col(countCol))
          .as(scoreCol))
      .orderBy("doc_id")

  /** Gopher rule thresholds: a doc is repetition-flagged when the top
    * 2-/3-/4-gram occupies more than this fraction of its characters
    * (Rae et al. 2021, table A1 rows 1–3). Exactly representable. */
  val TopgramThresholds: Map[Int, Double] = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)

  /** `txt_topgram_share`: the Gopher/MassiveText TOP-n-gram character
    * occupancy rules — per document, the single most frequent 2-, 3-
    * and 4-gram and the fraction of the document's characters its
    * occurrences account for (count × gram length / doc length), with
    * the composite repetition flag at the published thresholds
    * ([[TopgramThresholds]]). Only grams occurring ≥ 2 times count —
    * the rule measures REPETITION, and on a short document a
    * once-occurring 4-gram's characters alone could trip the published
    * threshold (Gopher applies these after a min-length screen; the
    * count-≥-2 floor makes the rule length-safe instead). Complements
    * [[repRatio]] (which measures how many DISTINCT n-grams repeat): a
    * crawler loop that stamps one slogan hundreds of times barely
    * moves the distinct-dup ratio but pins the top-gram share — this
    * is the rule that catches it. Ties break to the lexicographically
    * smallest gram (one min-of-(−count, gram) struct argmax per
    * order — no window, so a mega-doc can't funnel one task).
    *
    * Scale shape: per order, one n-gram explode → one (doc, gram)
    * partial-aggregating groupBy → one doc-keyed argmax; the three
    * orders' outputs and the doc-length table join co-partitioned on
    * doc_id. Docs shorter than n tokens carry share 0 and a NULL gram
    * (nothing repeats in them by construction). */
  def topgramShare(spark: SparkSession, dir: String): DataFrame =
    topgramShareOf(Tables.table(spark, dir, "documents"))

  /** [[topgramShare]] over an arbitrary (doc_id, text) relation — the
    * seam the planted-corpus spec drives. */
  private[graft] def topgramShareOf(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), length(col("text")).as("doc_chars"), col("text"))
    def top(n: Int): DataFrame =
      docs.select(col("doc_id"),
          explode(call_function("graft_word_ngrams", col("text"), lit(n)))
            .as("gram"))
        .groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .where(col("c") >= 2) // repetition only; a unique gram never flags
        .groupBy("doc_id")
        .agg(min(struct((-col("c")).as("nc"), col("gram"))).as("m"))
        .select(col("doc_id"), (-col("m.nc")).as(s"c$n"),
          col("m.gram").as(s"top${n}_gram"))
    val joined = docs.select("doc_id", "doc_chars")
      .join(top(2), Seq("doc_id"), "left")
      .join(top(3), Seq("doc_id"), "left")
      .join(top(4), Seq("doc_id"), "left")
    def frac(n: Int) =
      coalesce(col(s"c$n").cast("double") * length(col(s"top${n}_gram"))
        / col("doc_chars").cast("double"), lit(0.0)).as(s"top${n}_frac")
    joined
      .select(col("doc_id"), col("top2_gram"), frac(2),
        col("top3_gram"), frac(3), col("top4_gram"), frac(4))
      .withColumn("flagged",
        col("top2_frac") > TopgramThresholds(2) ||
          col("top3_frac") > TopgramThresholds(3) ||
          col("top4_frac") > TopgramThresholds(4))
      .orderBy("doc_id")
  }

  /** TF-IDF keyword extraction: the top-[[TfidfTopK]] most
    * characteristic terms per document, weight = tf × (N+1)/(df+1).
    * The idf is the RATIONAL form, not ln((N+1)/(df+1)): a monotone
    * transform that ranks identically while staying in +,/ — libm's
    * `ln` and the JVM's disagree in the last ulp on some inputs, which
    * would break the cross-engine hash gate (the repo's no-builtin-ROUND
    * rule, applied to transcendentals).
    *
    * Scale shape: token explode is map-side; tf is one (doc, term)
    * groupBy; df re-aggregates the tf table by term (vocabulary-sized —
    * far smaller than the token stream, and partial-aggregated); N is a
    * broadcast 1-row aggregate; the per-doc top-k window partitions on
    * doc_id (bounded by the document's distinct-term count, never
    * corpus-wide). */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.table(spark, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val weighted = tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") *
          ((col("n_docs").cast("double") + lit(1.0))
            / (col("df").cast("double") + lit(1.0)))).as("weight"))
    weighted
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("weight").desc, col("term"))))
      .where(col("rn") <= TfidfTopK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("weight"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  /** Chunks returned by [[ragChunks]]. */
  val RagTopK = 20

  /** `txt_rag`: RAG retrieval over the chunk index — BM25-rank every
    * [[chunks]] window (the retrieval unit of a RAG corpus: overlapping
    * [[ChunkSize]]-token windows, stride [[ChunkStride]]) against the
    * contract query terms and keep the global top-[[RagTopK]]. Same
    * rational-idf / fixed-point-sum discipline as [[bm25]], with the
    * chunk (not the document) as the scored unit: df counts chunks
    * containing the term, dl is the chunk length, avgdl the mean chunk
    * length.
    *
    * Scale shape: chunking is a per-row explode (no shuffle); the term
    * filter hits the exploded token stream BEFORE any aggregation, so
    * only query-term hits shuffle; df/avgdl/N are tiny broadcast
    * aggregates; the global top-k is a TakeOrderedAndProject. At 100 TB
    * the chunk index is ~2× the corpus in rows but the per-query cost
    * is governed by the term hits alone — the standard sparse-retrieval
    * shape. */
  def ragChunks(spark: SparkSession, dir: String): DataFrame = {
    val ch = chunks(spark, dir)
      .select(col("doc_id"), col("chunk_idx"),
        col("n_chunk_tokens").cast("long").as("dl"), col("chunk_text"))
    val toks = ch.select(col("doc_id"), col("chunk_idx"),
        explode(split(col("chunk_text"), " ")).as("token"))
      .where(col("token").isInCollection(Bm25Terms))
    val tf = toks.groupBy("doc_id", "chunk_idx", "token")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = ch.agg(count(lit(1)).as("n_chunks"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val term = tf.join(broadcast(df), "token")
      .join(ch.select("doc_id", "chunk_idx", "dl"), Seq("doc_id", "chunk_idx"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("chunk_idx"),
        (((col("n_chunks").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
          ((col("tf").cast("double") * (lit(Bm25K1) + lit(1.0)))
            / (col("tf").cast("double") + lit(Bm25K1) *
              (lit(1.0) - lit(Bm25B) + lit(Bm25B) *
                (col("dl").cast("double") / col("avgdl")))))).as("s"))
    term.groupBy("doc_id", "chunk_idx")
      .agg(sum(floor(col("s") * lit(LmScale.toDouble))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("fs"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("fs").cast("double") / lit(LmScale.toDouble)).as("score"))
      .orderBy(col("score").desc, col("doc_id"), col("chunk_idx"))
      .limit(RagTopK)
  }

  /** `txt_novelty`: corpus-duplicated 3-gram fraction per document —
    * the C4/RefinedWeb-style filter signal: how much of a document's
    * distinct shingle set also appears in at least one OTHER document
    * (df ≥ 2 counts the doc itself once, so df ≥ 2 ⇔ shared). One
    * vocabulary-sized df aggregate joined back by shingle key; both
    * aggregates partial map-side, no pairwise work anywhere — at 100 TB
    * this is two keyed shuffles of the shingle stream, nothing more. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        explode(Shingles.wordShinglesNative(col("text"), 3)).as("g"))
    val df = sh.groupBy("g").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") >= 2, lit(1))).as("n_dup"))
      .withColumn("dup_frac", col("n_dup") * lit(1.0) / col("n_shingles"))
      .orderBy("doc_id")
  }

  // ---- oracles ----------------------------------------------------------

  private val lexValues =
    lexicon.map { case (t, l) => s"('$t','$l')" }.mkString(", ")

  /** The txt_lang_id oracle, shared with the confusion-matrix rollup. */
  private lazy val langIdOracle: String =
    s"""WITH lex(token, lex_lang) AS (VALUES $lexValues),
       |toks AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents),
       |scores AS (SELECT doc_id, lex_lang, COUNT(*) AS hits
       |           FROM toks JOIN lex USING (token) GROUP BY 1,2),
       |best AS (SELECT doc_id, lex_lang, hits,
       |                ROW_NUMBER() OVER (PARTITION BY doc_id
       |                  ORDER BY hits DESC, lex_lang) AS rn FROM scores)
       |SELECT d.doc_id, COALESCE(b.lex_lang,'unknown') AS pred_lang,
       |       CAST(COALESCE(b.hits,0) AS BIGINT) AS hits
       |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn=1) b USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
  private val stopList = stopwords.map(s => s"'$s'").mkString(", ")

  /** The txt_quality oracle, shared with the corpus-profile rollup. */
  /** Vocabulary size for [[vocab]]/[[oovScore]] — deliberately below
    * the corpus' distinct-token count so the OOV rate is a live signal
    * at every test scale (production would use 32k-256k). */
  val VocabK = 20

  /** `txt_strip_repeats`: intra-document repetition REMOVAL — every
    * token covered only by repeat occurrences of a duplicated trigram
    * is dropped, keeping each trigram's first occurrence (the
    * Gopher-appendix cleanup that [[repRatio]] only measures). Output
    * keeps both token counts and the rebuilt text, so the op serves
    * as filter signal and as transform.
    *
    * Scale shape: the whole computation is INTRA-document, so it runs
    * as ONE per-row kernel in the typed `mapPartitions` seam (the
    * [[compressionRatio]] pattern): tokenize, hash-map first trigram
    * occurrences, mark covered positions, rebuild — O(tokens) per doc,
    * zero shuffles, zero joins (the round-5 three-explode +
    * (doc, trigram)-keyed join formulation spent 3 corpus shuffles to
    * compute a per-row function; this is the plan a 100-TB run wants:
    * a pure scan). */
  def stripRepeats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        // split(..., -1) keeps trailing empty tokens — the SQL split
        // semantics the oracle's string_split mirrors
        val toks = text.split(" ", -1)
        val n = toks.length
        val covered = new Array[Boolean](n)
        val firstAt = new java.util.HashMap[String, Integer]()
        var i = 0
        while (i + 2 < n) {
          val g = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
          if (firstAt.putIfAbsent(g, i) != null) {
            covered(i) = true; covered(i + 1) = true; covered(i + 2) = true
          }
          i += 1
        }
        val kept = new StringBuilder
        var after = 0L
        i = 0
        while (i < n) {
          if (!covered(i)) {
            if (after > 0) kept.append(' ')
            kept.append(toks(i)); after += 1
          }
          i += 1
        }
        (id, n.toLong, after,
          (n - after).toDouble / n.toDouble, kept.toString)
      })
      .toDF("doc_id", "n_tokens_before", "n_tokens_after",
        "removed_fraction", "cleaned_text")
      .orderBy("doc_id")
  }

  /** `txt_length_profile`: per-source document-length distribution —
    * docs, total tokens, mean and p10/p50/p90 token counts per source.
    * The mix-design companion of [[corpusProfile]]: sequence-packing
    * efficiency and truncation loss are both length-distribution
    * functions, so this table is read before setting context lengths
    * per source.
    *
    * Scale shape: ONE partial-aggregating groupBy to the source
    * catalog. The exact `percentile` is the oracle path; its per-group
    * buffer holds one SOURCE's distinct lengths — the same
    * at-100-TB hazard as the value-quantile family, so the
    * [[lengthProfileApprox]] twin (Greenwald-Khanna, identical plan,
    * PercentileScaleSpec tolerance) is the scale path. */
  def lengthProfile(spark: SparkSession, dir: String): DataFrame =
    lengthProfileImpl(spark, dir, exactPct = true)

  /** The 100-TB twin on `approx_percentile` — same plan and schema. */
  def lengthProfileApprox(spark: SparkSession, dir: String): DataFrame =
    lengthProfileImpl(spark, dir, exactPct = false)

  private def lengthProfileImpl(spark: SparkSession, dir: String,
      exactPct: Boolean): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        Gold.fixedRound(Gold.pct("n_tokens", 0.1, exactPct), 4).as("p10_tokens"),
        Gold.fixedRound(Gold.pct("n_tokens", 0.5, exactPct), 4).as("p50_tokens"),
        Gold.fixedRound(Gold.pct("n_tokens", 0.9, exactPct), 4).as("p90_tokens"))
      .withColumn("mean_tokens",
        col("total_tokens").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")

  /** `txt_source_divergence`: pairwise total-variation distance between
    * source unigram distributions — which crawls are linguistically
    * interchangeable and which add genuinely new text (the statistical
    * companion of [[graft.operators.Dedup.crossOverlap]]'s verbatim
    * view; both feed mix design). TVD needs the full union vocabulary,
    * but the identity `TVD = 1 + (Σ_shared|p−q| − Σ_shared(p+q))/2`
    * reduces it to SHARED tokens only — one-sided mass cancels — so
    * the join never materializes either side's private vocabulary.
    *
    * Scale shape: per-(source, token) counts are one vocab-bounded
    * partial aggregate; per-token source lists explode to ≤ catalog²
    * pairs per DISTINCT token (the crossOverlap discipline — per-token
    * state bounded by the SOURCE CATALOG, never document frequency);
    * numerators cross-multiply as DECIMAL — exact at any corpus size,
    * no double until the single final division, which both engines run
    * on identical inputs. */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val d18 = DecimalType(18, 0)
    val d38 = DecimalType(38, 0)
    val tc = Tables.table(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
    val per = tc.groupBy("source").agg(sum(col("c")).as("n"))
    val pairs = tc.groupBy("token")
      .agg(sort_array(collect_list(struct(col("source"), col("c")))).as("scs"))
      .where(size(col("scs")) >= 2)
      .select(explode(col("scs")).as("a"), col("scs"))
      .select(col("a"), explode(col("scs")).as("b"))
      .where(col("a.source") < col("b.source"))
    val j = pairs
      .join(broadcast(per.select(col("source").as("sa"), col("n").as("n_a"))),
        col("a.source") === col("sa"))
      .join(broadcast(per.select(col("source").as("sb"), col("n").as("n_b"))),
        col("b.source") === col("sb"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("n_a"), col("n_b"),
        (col("a.c").cast(d18) * col("n_b").cast(d18)).as("x"),
        (col("b.c").cast(d18) * col("n_a").cast(d18)).as("y"))
    j.groupBy("src_a", "src_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_shared_tokens"),
        sum(abs(col("x") - col("y")).cast(d38)).as("sabs"),
        sum((col("x") + col("y")).cast(d38)).as("ssum"))
      .select(col("src_a"), col("src_b"), col("n_shared_tokens"),
        (lit(1.0) + (col("sabs").cast("double") - col("ssum").cast("double"))
          / (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")))
          .as("tvd"))
      .orderBy("src_a", "src_b")
  }

  /** Pairs reported by [[bpePairs]]. */
  val BpeTopK = 30

  /** `txt_bpe_pairs`: corpus-wide adjacent CHARACTER-pair counts within
    * words — the exact statistic byte-pair-encoding training maximizes
    * at every merge step (step 1 of training a tokenizer on this
    * corpus; [[vocab]] is the word-level complement). Top pairs with a
    * deterministic tiebreak, the order BPE would take its first merges
    * in.
    *
    * Scale shape: both explodes are map-side generators (words, then
    * in-word positions — output ≤ corpus character count); the ONE
    * shuffle is the pair count over a key space bounded by the
    * CHARACTER-BIGRAM alphabet (² of the alphabet — metadata), and the
    * top-k is a TakeOrderedAndProject. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .select(col("w"), explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substring(w, i, 2)").as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(BpeTopK)

  /** Merge rounds trained by [[bpeTrain]]. 256 is deliberately far past
    * toy size: the driver-side merge loop's cost is K × |vocab| symbol
    * scans with ZERO scheduled jobs per round, so the constant proves
    * the 32k-merge production shape scales (the per-round distributed
    * variant, kept as the cross-check, schedules one job per merge —
    * a pure driver bottleneck at real vocabulary sizes). */
  val BpeMerges = 256

  /** Greedy left-to-right replacement of one adjacent symbol pair —
    * the standard BPE apply step ("aaa" under merge (a,a) → ["aa","a"],
    * never the overlapping ["a","aa"]). */
  private[graft] def bpeMergeOnce(syms: IndexedSeq[String], l: String,
      r: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** `txt_bpe_train`: train the first [[BpeMerges]] BPE merges over the
    * corpus — the actual tokenizer-training loop whose round-0 pair
    * table [[bpePairs]] previews. Each round merges the
    * highest-frequency adjacent symbol pair (ties by (left, right)
    * lexicographic — fully deterministic), emitting the merge table a
    * tokenizer would serialize.
    *
    * Scale shape: the corpus is touched ONCE — one distributed
    * word-frequency aggregation whose result is VOCAB-sized metadata
    * (Heaps-law sublinear in corpus mass: ~10⁵–10⁶ rows against 100 TB
    * of text), collected once; the K merge rounds then run entirely
    * driver-side over that table (count weighted pairs, take the
    * argmax, apply the merge — each round O(|vocab| symbols), zero
    * scheduled jobs). This is how production BPE trainers work, and it
    * removes the former per-round job-scheduling bottleneck: a 32k-merge
    * vocabulary is 32k in-memory loop iterations, not 32k Spark jobs.
    * The per-round DISTRIBUTED loop survives as
    * [[trainBpeMergesDistributed]], the cross-check that the
    * driver-side argmax (UTF-8-byte tie order) replays the cluster
    * semantics merge-for-merge. The trained table is CACHED per corpus
    * dir (the IVF codebook train-once contract): [[applyBpe]] and
    * repeated calls never re-run the merge loop. FULL oracle since r15
    * ([[bpeTrainOracleSql]]): the merge recursion unrolls as
    * [[BpeUnrollBudget]] materialized CTE rounds — pair count, byte-
    * order argmax, fold-merge — with exhaustion absorbing and the
    * budget guard loud; TextAnalysisSpec still replays the greedy
    * recursion on the driver plus the distributed-path parity test. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeMergesFor(spark, dir).toDF("merge_idx", "left", "right", "pair_freq")
      .orderBy("merge_idx")
  }

  /** The trained merge table, computed once per corpus dir and session
    * (an [[ArtifactCache]] value). */
  private[graft] def bpeMergesFor(spark: SparkSession,
      dir: String): Vector[(Int, String, String, Long)] =
    ArtifactCache.value(spark, dir, "bpe_merges")(trainBpeMerges(spark, dir))

  private def trainBpeMerges(spark: SparkSession,
      dir: String): Vector[(Int, String, String, Long)] =
    trainMergesFromVocab(collectVocab(spark, dir), BpeMerges)

  /** Words rarer than this never enter the BPE training vocab. The
    * Heaps-law "vocab-sized metadata" contract above holds for
    * NORMALIZED text, but raw web corpora (URLs, hex ids, numbers)
    * push distinct whitespace tokens into the 10⁸–10⁹ range at 100 TB
    * — almost all of them singletons. A corpus-frequency floor of 2 is
    * the standard tokenizer-trainer `min_frequency` cut: it drops
    * exactly the long singleton tail (the part that grows with corpus
    * mass instead of with the language), keeping the collect truly
    * vocab-sized. Applied identically by the driver-side trainer, the
    * distributed cross-check and the spec replays. */
  private[graft] val BpeHapaxFloor = 2L

  /** Fail-fast bound on the driver-side vocab collect (~16.7M rows ≈
    * low-GB driver heap). Hitting it means the floor assumption broke
    * (an adversarially diverse corpus); the honest response is a clear
    * error, not a silent OOM mid-collect. */
  private[graft] val MaxVocabRows = 1L << 24

  /** The one corpus pass: distributed word-frequency aggregation,
    * floored at [[BpeHapaxFloor]], size-guarded, collected as the
    * vocab-sized training table. */
  private def collectVocab(spark: SparkSession,
      dir: String): Array[(IndexedSeq[String], Long)] = {
    import spark.implicits._
    val vocab = Tables.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .where(col("freq") >= BpeHapaxFloor)
      .localCheckpoint() // one materialization feeds the guard count + the collect
    val n = vocab.count()
    require(n <= MaxVocabRows,
      s"BPE vocab has $n words above the frequency floor (cap $MaxVocabRows): " +
        "corpus too diverse to train driver-side; raise the floor or use " +
        "trainBpeMergesDistributed")
    vocab.as[(String, Long)].collect()
      .map { case (w, f) => (codePointSyms(w), f) }
  }

  /** Word → initial symbol sequence, one symbol per Unicode CODE POINT
    * (never per UTF-16 code unit: `split("")` cuts supplementary-plane
    * characters into lone surrogates, which UTF-8-encode to `?` —
    * distinct symbols that compare EQUAL under [[utf8Lt]] but unequal
    * under `==`, making the driver argmax tie-break HashMap-iteration-
    * dependent and diverging from the distributed path's UTF8String
    * grouping). Used identically by training, the distributed
    * cross-check and apply, so all paths stay consistent on any
    * corpus. */
  private[graft] def codePointSyms(w: String): IndexedSeq[String] =
    w.codePoints().toArray.map(Character.toString).toIndexedSeq

  /** Spark's string order is UTF8String BINARY order (unsigned UTF-8
    * bytes) — the driver-side argmax tie-break must replicate it
    * exactly or the trained table diverges from the distributed
    * cross-check on non-ASCII symbols. */
  private[graft] def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** K greedy merge rounds over an in-memory (word-symbols, freq)
    * table: argmax by (weighted pair freq desc, left, right) in UTF-8
    * byte order, early stop when no pair remains. */
  private[graft] def trainMergesFromVocab(
      vocab: Array[(IndexedSeq[String], Long)],
      k: Int): Vector[(Int, String, String, Long)] = {
    var words = vocab
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { case (p, n) =>
          if (best == null || n > best._2 ||
              (n == best._2 && (utf8Lt(p._1, best._1._1) ||
                (p._1 == best._1._1 && utf8Lt(p._2, best._1._2)))))
            best = (p, n)
        }
        val ((l, r), pf) = best
        merges += ((round, l, r, pf))
        words = words.map { case (syms, f) => (bpeMergeOnce(syms, l, r), f) }
        round += 1
      }
    }
    merges.result()
  }

  /** The original per-round DISTRIBUTED merge loop — one scheduled job
    * per round, kept ONLY as the cross-check that the driver-side
    * trainer replays cluster aggregation + ordering semantics exactly
    * (TextAnalysisSpec asserts merge-for-merge equality on a prefix).
    * Not on any query path: at production vocabulary sizes (32k merges)
    * per-round scheduling is a pure driver bottleneck. */
  private[graft] def trainBpeMergesDistributed(spark: SparkSession,
      dir: String, k: Int): Vector[(Int, String, String, Long)] = {
    import spark.implicits._
    var words = Tables.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .where(col("freq") >= BpeHapaxFloor) // same floor as the driver-side trainer
      .as[(String, Long)]
      .map { case (w, f) => (codePointSyms(w), f) }
      .toDF("syms", "freq")
      .localCheckpoint()
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    (1 to k).foreach { round =>
      val top = words.as[(scala.collection.immutable.Seq[String], Long)]
        .flatMap { case (syms, f) =>
          syms.sliding(2).collect { case scala.collection.immutable.Seq(a, b) => (a, b, f) }
        }
        .toDF("l", "r", "f")
        .groupBy("l", "r").agg(sum(col("f")).as("pair_freq"))
        .orderBy(col("pair_freq").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (l, r, pf) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((round, l, r, pf))
        words = words.as[(scala.collection.immutable.Seq[String], Long)]
          .map { case (syms, f) => (bpeMergeOnce(syms.toIndexedSeq, l, r), f) }
          .toDF("syms", "freq")
          .localCheckpoint()
      }
    }
    merges.result()
  }

  /** Pair → ascending rank list of a trained merge table. A list, not
    * a single rank: a pair can in principle be trained AGAIN at a
    * later rank when a later merge's concatenated symbol string
    * coincides with an earlier one and recreates the pair — the rank
    * list keeps [[tokenizeWord]] exact even then. */
  private[graft] def mergeRanks(merges: Seq[(Int, String, String)])
      : Map[(String, String), Array[Int]] =
    merges.groupBy { case (_, l, r) => (l, r) }
      .map { case (p, v) => (p, v.map(_._1).sorted.toArray) }

  /** Tokenize ONE word under the trained merge table — sequential-
    * replay semantics at rank-based cost. Instead of replaying all K
    * merges per word (O(K·len) — the cost that made apply 5× slower
    * when K went 12 → 256, and a scale-killer at a production 32k),
    * repeatedly apply the merge with the SMALLEST rank strictly above
    * the last applied rank whose pair is adjacent in the word.
    *
    * Exactly equivalent to the naive full replay: a merge fires iff
    * its pair is present when the replay pointer reaches its rank —
    * if the minimal present rank above the pointer is q, no merge in
    * (pointer, q) can fire in the naive replay either (its pair would
    * have ranked below q), and pairs created by later merges with
    * ranks ≤ pointer stay unapplied in both. ExpressionProps pins the
    * equivalence property over random words × random merge tables.
    * Cost: O(applied·len) with applied ≤ len−1 (each merge shortens
    * the word) — INDEPENDENT of K. */
  private[graft] def tokenizeWord(word: IndexedSeq[String],
      ranks: Map[(String, String), Array[Int]]): IndexedSeq[String] = {
    var syms = word
    var pointer = 0
    var more = syms.length > 1
    while (more) {
      var bestRank = Int.MaxValue
      var bl: String = null
      var br: String = null
      var i = 0
      while (i + 1 < syms.length) {
        val rs = ranks.getOrElse((syms(i), syms(i + 1)), null)
        if (rs != null) {
          var j = 0
          while (j < rs.length && rs(j) <= pointer) j += 1
          if (j < rs.length && rs(j) < bestRank) {
            bestRank = rs(j); bl = syms(i); br = syms(i + 1)
          }
        }
        i += 1
      }
      if (bl == null) more = false
      else {
        syms = bpeMergeOnce(syms, bl, br)
        pointer = bestRank
      }
    }
    syms
  }

  /** `txt_apply_bpe`: tokenize the corpus with the [[bpeTrain]] merge
    * table — per document, the character-symbol count before, the BPE
    * token count after all [[BpeMerges]] merges, and the resulting
    * compression. The consumer half of the tokenizer loop: the table
    * that says what K merges BUY on this corpus (and the per-doc token
    * counts a packing/budget step would take as input).
    *
    * Scale shape: the merge table is K-row METADATA collected once and
    * closed over as a pair→rank index; application is ONE typed
    * per-row pass — zero shuffles beyond the output sort — with two
    * compounding accelerations: [[tokenizeWord]] is rank-based (cost
    * independent of K — flat whether the table holds 256 or 32k
    * merges), and each partition memoizes by DISTINCT word (the
    * partition vocabulary is Heaps-law metadata-sized, so a word
    * occurring a million times tokenizes once). FULL oracle since r15
    * ([[applyBpeOracleSql]]): [[tokenizeWord]]'s monotone rank pointer
    * IS sequential rank-order application, so the unrolled training
    * chain extended over the full vocabulary tokenizes every distinct
    * word; the spec still replays train + apply on the driver and
    * asserts per-doc equality. */
  def applyBpe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranks = mergeRanks(
      bpeMergesFor(spark, dir).map { case (i, l, r, _) => (i, l, r) })
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, (Long, Long)]()
        it.map { case (id, text) =>
          var before = 0L
          var after = 0L
          text.split(" ", -1).foreach { w =>
            var ba = memo.get(w)
            if (ba == null) {
              val syms = codePointSyms(w)
              ba = (syms.length.toLong,
                tokenizeWord(syms, ranks).length.toLong)
              memo.put(w, ba)
            }
            before += ba._1
            after += ba._2
          }
          (id, before, after,
            after.toDouble / math.max(before, 1L).toDouble)
        }
      }
      .toDF("doc_id", "n_symbols_before", "n_tokens_after",
        "compression_ratio")
      .orderBy("doc_id")
  }

  /** Composite cut for [[qualityEnsemble]]. */
  val EnsembleBar = 0.55

  /** `txt_quality_ensemble`: the production filter decision — a fixed
    * linear blend of three INDEPENDENT quality families (surface
    * heuristics from [[quality]], boilerplate repetition from
    * [[repRatio]], lexical diversity from [[lexicalDiversity]]) with
    * one keep flag. Single-signal filters are gameable (spam that is
    * long enough, diverse enough, OR clean enough); the ensemble is
    * what LLM-corpus pipelines actually gate on.
    *
    * Scale shape: every component is a function of the document alone,
    * so the three families are one projection over ONE scan of
    * `documents` ([[docTokenStats]]) — no join and no shuffle besides
    * the output sort; the blend is one fixed IEEE expression —
    * bit-identical cross-engine, no round-off gate wobble. */
  def qualityEnsemble(spark: SparkSession, dir: String): DataFrame =
    ensembleCore(spark, dir).orderBy("doc_id")

  /** [[qualityEnsemble]] without the output ordering — shared with
    * [[qualityLr]]'s feature frame (an inner ORDER BY would cost a
    * pointless range exchange mid-plan). */
  private def ensembleCore(spark: SparkSession, dir: String): DataFrame = {
    val composite =
      lit(0.5) * col("quality_score") +
        lit(0.25) * (lit(1.0) - col("dup_3gram_ratio")) +
        lit(0.25) * col("ttr")
    docTokenStats(spark, dir)
      .select(Seq(col("doc_id"), dupGramRatio(3).as("dup_3gram_ratio"),
        ttr.as("ttr")) ++ qualityColumns: _*)
      .select(col("doc_id"), col("quality_score"), col("dup_3gram_ratio"),
        col("ttr"), composite.as("composite"),
        (composite >= EnsembleBar).as("keep"))
  }

  /** Full-batch GD rounds / learning rate for [[qualityLr]] — pinned
    * so the DuckDB oracle can unroll EXACTLY this many rounds. At
    * (24, 16.0) the trained classifier reaches ≥ 0.97 label agreement
    * at every verified SF vs a 0.75–0.79 majority baseline (the CI
    * gate in TextAnalysisSpec); higher rates oscillate (measured:
    * lr 32 diverges at 16+ rounds on sf0.01). */
  val QualityLrRounds = 24
  val QualityLrRate = 16.0

  /** Fixed-point grid for the GD sufficient statistics: each per-row
    * gradient contribution is FLOOR'd to 1e-9 before the sum, so the
    * aggregate is EXACT integer addition (order-free) in both engines
    * — the [[Gold.moneySum]] discipline. DECIMAL(28,0) holds the sum
    * to ~10¹⁹ rows at this grid; BIGINT would saturate at ~9·10⁹. */
  private def gradSum(c: Column): Column =
    sum(floor(c * lit(1e9)).cast(DecimalType(28, 0))).cast("double")

  /** Feature/label frame for [[qualityLr]]: the three INDEPENDENT
    * ensemble families as features, the ensemble keep flag as the
    * training label (heuristic distillation — the production bootstrap
    * when no curated reference corpus exists; a deployment swaps `y`
    * for reference-corpus membership, CCNet §4.4 / GPT-3 appendix A).
    * Session-cached: training re-reads it [[QualityLrRounds]]+1 times. */
  private def qualityLrFeatures(spark: SparkSession, dir: String): DataFrame =
    ArtifactCache.of(spark, dir, "txt_quality_lr_feats") {
      ensembleCore(spark, dir).select(col("doc_id"),
        col("quality_score").as("x1"),
        (lit(1.0) - col("dup_3gram_ratio")).as("x2"),
        col("ttr").as("x3"),
        when(col("composite") >= EnsembleBar, 1.0).otherwise(0.0).as("y"))
    }

  /** Train the logistic filter: feature centering (one fixed-point
    * aggregate) then [[QualityLrRounds]] full-batch GD rounds, each
    * ONE corpus aggregate collected as 5 scalars — the driver never
    * holds more than a gradient row ([[Similarity.pcaTopAxis]]'s
    * iterate-on-aggregates precedent). The link is the RATIONAL
    * sigmoid σ̃(z) = 0.5 + 0.5·z/(1+|z|): one divide and one abs, so
    * every engine computes bit-identical probabilities — libm exp
    * (whose last-ulp behavior differs across engines) never enters.
    * Returns (feature means, weights [bias, w1, w2, w3]): the
    * driver-resident model artifact (3 + 4 doubles), trained once per
    * corpus dir and session (an [[ArtifactCache]] value, which
    * [[ArtifactCache.save]]/[[ArtifactCache.load]] persist if a
    * restarted driver must skip retraining). A loaded model is read
    * from a file, so its shape is checked here, where it is read. */
  private[graft] def qualityLrModel(spark: SparkSession,
      dir: String): (Array[Double], Array[Double]) = {
    val model = ArtifactCache.value(spark, dir, "quality_lr_model") {
      val f = qualityLrFeatures(spark, dir)
      val m = f.agg(gradSum(col("x1")), gradSum(col("x2")),
        gradSum(col("x3")), count(lit(1)).cast("double")).head()
      val nD = m.getDouble(3)
      val mu = Array.tabulate(3)(j => (m.getDouble(j) / 1e9) / nD)
      val c = Array.tabulate(3)(j => col(s"x${j + 1}") - lit(mu(j)))
      val w = Array(0.0, 0.0, 0.0, 0.0)
      (1 to QualityLrRounds).foreach { _ =>
        val z = ((lit(w(0)) + (lit(w(1)) * c(0))) + (lit(w(2)) * c(1))) +
          (lit(w(3)) * c(2))
        val p = lit(0.5) + (lit(0.5) * (z / (lit(1.0) + abs(z))))
        val err = p - col("y")
        val g = f.agg(gradSum(err), gradSum(err * c(0)), gradSum(err * c(1)),
          gradSum(err * c(2)), count(lit(1)).cast("double")).head()
        val n = g.getDouble(4)
        (0 to 3).foreach { j =>
          w(j) = w(j) - QualityLrRate * ((g.getDouble(j) / 1e9) / n)
        }
      }
      (mu, w)
    }
    val (mu, w) = model
    require(mu.length == 3 && w.length == 4,
      s"malformed quality-LR model for $dir: ${mu.length} means, ${w.length} weights")
    model
  }

  /** `txt_quality_lr`: TRAINED quality classifier — logistic
    * regression over the [[qualityEnsemble]] features (surface
    * quality, 1−repetition, lexical diversity), trained by
    * [[qualityLrModel]]'s deterministic fixed-point GD; per document
    * the features, the training label, the calibrated score and the
    * trained keep verdict. The production upgrade over the FIXED blend
    * (CCNet §4.4, GPT-3 appendix A deploy trained filters): the score
    * is calibrated to the label distribution instead of hand-set
    * coefficients, and retraining absorbs new labels without retuning.
    *
    * Scale shape: training is [[QualityLrRounds]]+1 corpus aggregates
    * over the session-cached narrow feature frame (fixed-point
    * sufficient statistics, exact at any row order); scoring is one
    * map-side expression over the same frame. The oracle REPLAYS
    * training: 24 GD rounds unrolled as materialized 1-row CTEs — the
    * `emb_pca` unrolled-recursion pattern. */
  def qualityLr(spark: SparkSession, dir: String): DataFrame = {
    val (mu, w) = qualityLrModel(spark, dir)
    val c = Array.tabulate(3)(j => col(s"x${j + 1}") - lit(mu(j)))
    val z = ((lit(w(0)) + (lit(w(1)) * c(0))) + (lit(w(2)) * c(1))) +
      (lit(w(3)) * c(2))
    val p = lit(0.5) + (lit(0.5) * (z / (lit(1.0) + abs(z))))
    qualityLrFeatures(spark, dir)
      .select(col("doc_id"), col("x1").as("quality_score"),
        col("x2").as("inv_rep"), col("x3").as("ttr"),
        (col("y") === 1.0).as("label"), p.as("lr_score"),
        (p >= 0.5).as("keep_lr"))
      .orderBy("doc_id")
  }

  /** Deflate level for [[compressionRatio]] — zlib's default tradeoff;
    * the RATIO ordering between repetitive and diverse text is what
    * the signal uses, and it is stable across levels. */
  val DeflateLevel = 6

  /** `txt_compress`: per-document Deflate compression ratio — the
    * model-free redundancy signal (Gopher-style quality filtering):
    * boilerplate and template spam compress far below natural prose,
    * and near-random strings compress above it, so both filter cuts
    * hang off this one column. No ANSI-SQL form (the oracle engine has
    * no codec) → rows-only, covered by determinism + ordering
    * properties in the spec.
    *
    * Scale shape: pure per-row work in ONE `mapPartitions` pass (the
    * typed seam the multimodal decode uses) with the Deflater
    * allocated once per partition and reset per row — no churn, no
    * shuffle, no state; the scan prunes to (doc_id, text). Deflate
    * with fixed level/strategy is bit-deterministic for fixed input,
    * so re-runs are identical anywhere. */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(DeflateLevel, false)
        val buf = new Array[Byte](64 * 1024)
        // d.end() when the iterator drains: native zlib memory is NOT
        // JVM heap — without an explicit end, each completed task leaks
        // it until GC finalization, which accumulates on executors
        // running thousands of tasks
        new Iterator[(Long, Long, Long, Double)] {
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h) d.end()
            h
          }
          def next(): (Long, Long, Long, Double) = {
            val (id, text) = it.next()
            val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            d.reset(); d.setInput(raw); d.finish()
            var compressed = 0L
            while (!d.finished()) compressed += d.deflate(buf)
            (id, raw.length.toLong, compressed,
              compressed.toDouble / math.max(raw.length, 1).toDouble)
          }
        }
      }
      .toDF("doc_id", "raw_len", "compressed_len", "compression_ratio")
      .orderBy("doc_id")
  }

  /** `txt_freq_spectrum`: the frequency-of-frequencies table — for each
    * occurrence count c, how many distinct token types occur exactly c
    * times, and the token mass they carry. The Zipf/Heaps diagnostic
    * read before sizing a tokenizer vocabulary (how fat is the hapax
    * tail a vocab cut abandons?) and the input to Good-Turing
    * smoothing.
    *
    * Scale shape: one partial-aggregated token count (vocab-sized
    * shuffle), then a second aggregate OVER the counts whose key space
    * is the distinct count values — O(√mass) rows by Zipf's law, so
    * the output is metadata at any corpus size. All-integer; no
    * bucketing approximation needed. */
  def freqSpectrum(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .groupBy("cnt")
      .agg(count(lit(1)).as("n_types"))
      .select(col("cnt").as("token_count"), col("n_types"),
        (col("cnt") * col("n_types")).as("token_mass"))
      .orderBy("token_count")

  /** Minimum pair count for a collocation candidate. */
  val PmiMinSupport = 5
  /** Collocations reported by [[pmiPairs]]. */
  val PmiTopK = 50

  /** `txt_pmi_pairs`: top collocations by pointwise-mutual-information
    * lift — adjacent token pairs that co-occur far above chance
    * (`p(ab) / (p(a)·p(b))`, support-filtered) — the phrase-mining
    * signal behind tokenizer merge rules and multi-word entity
    * detection.
    *
    * Scale shape: bigram and unigram counts are partial-aggregated
    * (vocab-bounded shuffles — the corpus collapses map-side); the two
    * marginal lookups join on the token key of tables that are
    * VOCABULARY-sized, not corpus-sized; the two grand totals are
    * broadcast 1-row aggregates. The lift is computed in one fixed
    * IEEE expression shape (ratio of probabilities) so it is
    * bit-identical cross-engine, and the top-k is a
    * TakeOrderedAndProject with a unique tiebreaker — never a global
    * sort. */
  def pmiPairs(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.table(spark, dir, "documents")
      .select(explode(call_function("graft_word_ngrams", col("text"), lit(2)))
        .as("bigram"))
    val c2 = bg.groupBy("bigram").agg(count(lit(1)).as("n_pair"))
    val toks = Tables.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
    val c1 = toks.groupBy("token").agg(count(lit(1)).as("c1"))
    val nb = bg.agg(count(lit(1)).as("nb"))
    val nu = toks.agg(count(lit(1)).as("nu"))
    c2.where(col("n_pair") >= PmiMinSupport)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
      .join(c1.select(col("token").as("w1"), col("c1").as("n_first")), "w1")
      .join(c1.select(col("token").as("w2"), col("c1").as("n_second")), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("bigram"), col("n_pair"), col("n_first"), col("n_second"),
        ((col("n_pair").cast("double") / col("nb").cast("double"))
          / ((col("n_first").cast("double") / col("nu").cast("double"))
            * (col("n_second").cast("double") / col("nu").cast("double"))))
          .as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(PmiTopK)
  }

  /** `txt_vocab`: frequency-ranked tokenizer vocabulary — the top
    * [[VocabK]] tokens by corpus count with contiguous ids (rank order;
    * count ties break on the token), the "train a vocab before training
    * a tokenizer" step of an LLM data pipeline.
    *
    * Scale shape: one partial-aggregated token count, then the top-k is
    * a TakeOrderedAndProject (bounded heap per partition, k rows to the
    * driver-side stage — k is a CONSTANT). The id-assigning window runs
    * AFTER the limit, over exactly k rows, so the single-partition sort
    * it implies is O(VocabK), not O(corpus). */
  def vocab(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(VocabK)
      .withColumn("id",
        (row_number().over(Window.orderBy(col("cnt").desc, col("token"))) - 1)
          .cast("int"))
      .select("id", "token", "cnt")
      .orderBy("id")

  /** `txt_oov`: per-document out-of-vocabulary rate against the
    * [[vocab]] table — the coverage score that decides whether a vocab
    * (or a tokenizer) fits a corpus, and a standard quality signal (high
    * OOV ⇒ non-canonical text). The vocab side is k rows → broadcast;
    * the token stream joins map-side and partial-aggregates per doc, so
    * the corpus is scanned once and only (doc_id, counts) shuffle. */
  def oovScore(spark: SparkSession, dir: String): DataFrame = {
    val v = vocab(spark, dir).select(col("token"), lit(true).as("_in_v"))
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .join(broadcast(v), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_in_v").isNull, 1)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_ratio"))
      .orderBy("doc_id")
  }

  private[operators] val qualityOracleSql =
    s"""WITH c AS (
       |  SELECT doc_id,
       |         len(string_split(text,' ')) AS n_tokens,
       |         len(list_distinct(string_split(text,' '))) * 1.0
       |           / len(string_split(text,' ')) AS uniq_ratio,
       |         len(list_filter(string_split(text,' '),
       |               x -> list_contains([$stopList], x))) * 1.0
       |           / len(string_split(text,' ')) AS stop_ratio,
       |         CASE WHEN length(text) = 0 THEN 0.0
       |              ELSE len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0
       |                     / length(text) END AS punct_ratio
       |  FROM documents)
       |SELECT doc_id, n_tokens, uniq_ratio, stop_ratio, punct_ratio,
       |       0.5*uniq_ratio + 0.3*LEAST(stop_ratio*4.0, 1.0)
       |         + 0.2*(CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END)
       |         - 0.2*LEAST(punct_ratio*10.0, 1.0)
       |         AS quality_score,
       |       0.5*uniq_ratio + 0.3*LEAST(stop_ratio*4.0, 1.0)
       |         + 0.2*(CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 1.0 ELSE 0.0 END)
       |         - 0.2*LEAST(punct_ratio*10.0, 1.0)
       |         >= 0.5 AS passed
       |FROM c ORDER BY doc_id""".stripMargin

  /** The txt_quality_ensemble recompute WITHOUT the output ordering —
    * shared by the txt_quality_ensemble oracle and (as the feature
    * source) the txt_quality_lr training replay. */
  private val ensembleSelectSql: String =
    s"""WITH q AS (SELECT doc_id, quality_score FROM ($qualityOracleSql)),
       |g AS (
       |  SELECT doc_id,
       |         CASE WHEN len(t) >= 3 THEN list_transform(generate_series(1, len(t)-2),
       |              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3
       |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)),
       |r AS (SELECT doc_id,
       |             CASE WHEN len(g3) > 0
       |                  THEN (len(g3) - len(list_distinct(g3)))*1.0/len(g3)
       |                  ELSE 0.0 END AS dup_3gram_ratio
       |      FROM g),
       |tf AS (SELECT doc_id, term, COUNT(*) AS c
       |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term
       |             FROM documents) GROUP BY 1, 2),
       |l AS (SELECT doc_id,
       |             COUNT(*)*1.0/CAST(SUM(c) AS BIGINT) AS ttr
       |      FROM tf GROUP BY 1),
       |j AS (SELECT q.doc_id, quality_score, dup_3gram_ratio, ttr,
       |             0.5*quality_score + 0.25*(1.0 - dup_3gram_ratio) + 0.25*ttr
       |               AS composite
       |      FROM q JOIN r ON q.doc_id = r.doc_id
       |             JOIN l ON q.doc_id = l.doc_id)
       |SELECT doc_id, quality_score, dup_3gram_ratio, ttr, composite,
       |       composite >= CAST($EnsembleBar AS DOUBLE) AS keep
       |FROM j""".stripMargin

  /** BPE replay unroll budget: the most merge rounds the DuckDB binder
    * accepts as a CTE chain (256 rounds trip its 1000-deep expression
    * limit; 240 bind). SAFE because exhaustion is ABSORBING (the
    * gr_kcore argument): every verified corpus exhausts its 31-word
    * freq≥2 vocab at merge 89 — from there each round's pair table is
    * empty, the 1-row argmax CTE is empty, and the empty cross join
    * keeps every later round empty, so the 240-round unroll emits
    * exactly the merges the [[BpeMerges]]=256 trainer emits. A corpus
    * still UNEXHAUSTED at round 240 would diverge silently — the
    * error() guard on the last round's argmax makes it fail loudly
    * instead. */
  private val BpeUnrollBudget = 240

  /** One BPE merge round as CTEs (the REPLAY-ORACLE pattern): pair
    * counts over the current vocab symbolization (overlap-counting,
    * matching the trainer's sliding pass), the (freq DESC, l, r)
    * argmax — DuckDB VARCHAR compares by UTF-8 bytes, the trainer's
    * utf8Lt — and the merge applied as a LEFT FOLD over the symbol
    * list: `acc.last = l ∧ x = r → replace`, which IS the trainer's
    * left-to-right non-overlapping [[bpeMergeOnce]] (the just-merged
    * token, not `l`, sits at acc.last, so re-merge needs a LATER
    * round — also exactly [[tokenizeWord]]'s monotone rank pointer).
    * `withApply` adds the all-words chain `u{k}` that tokenizes the
    * FULL vocabulary (freq-1 words included) for the apply oracle. */
  private def bpeRoundCtes(withApply: Boolean): String = {
    def fold = """list_reduce(list_transform(s.syms, x -> [x]),
                 |           (acc, x) -> CASE WHEN acc[-1] = m.l AND x[1] = m.r
                 |                THEN list_append(acc[1:len(acc)-1], m.l || m.r)
                 |                ELSE list_append(acc, x[1]) END)""".stripMargin
    (1 to BpeUnrollBudget).map { k =>
      val acc =
        if (!withApply)
          ",\n" + (if (k > 1)
            s"a$k AS MATERIALIZED (SELECT * FROM a${k - 1} UNION ALL SELECT * FROM m$k)"
          else "a1 AS MATERIALIZED (SELECT * FROM m1)")
        else ""
      val applyChain = if (withApply)
        s""",
           |u$k AS MATERIALIZED (
           |  SELECT s.w, CASE WHEN m.l IS NOT NULL THEN $fold ELSE s.syms END
           |           AS syms
           |  FROM u${k - 1} s LEFT JOIN m$k m ON TRUE)""".stripMargin
      else ""
      s"""p$k AS MATERIALIZED (
         |  SELECT s.syms[u.i] AS l, s.syms[u.i+1] AS r,
         |         CAST(SUM(s.freq) AS BIGINT) AS pf
         |  FROM v${k - 1} s, UNNEST(generate_series(1, len(s.syms)-1)) AS u(i)
         |  GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT $k AS merge_idx, l, r, pf FROM p$k
         |  ORDER BY pf DESC, l, r LIMIT 1),
         |v$k AS MATERIALIZED (
         |  SELECT $fold AS syms, s.freq
         |  FROM v${k - 1} s, m$k m)$acc$applyChain""".stripMargin
    }.mkString(",\n")
  }

  /** Shared head: word frequencies, the trainer vocab (freq ≥
    * [[BpeHapaxFloor]]) symbolized to codepoints, and (apply only) the
    * full-word chain start. */
  private def bpeHeadCtes(withApply: Boolean): String =
    s"""wf AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1
       |  GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT list_transform(generate_series(1, length(w)),
       |           i -> substr(w, i, 1)) AS syms, freq
       |  FROM wf WHERE freq >= $BpeHapaxFloor)""".stripMargin +
      (if (withApply)
        s""",
           |u0 AS MATERIALIZED (
           |  SELECT w, list_transform(generate_series(1, length(w)),
           |           i -> substr(w, i, 1)) AS syms
           |  FROM wf)""".stripMargin
      else "")

  /** Loud-divergence guard: the unroll only equals the K=
    * [[BpeMerges]] trainer when training EXHAUSTS inside the budget. */
  private def bpeGuardCte: String =
    s"""chk AS (SELECT CASE WHEN (SELECT COUNT(*) FROM m$BpeUnrollBudget) > 0
       |  THEN error('bpe unroll budget hit before training exhausted')
       |  ELSE 0 END AS ok)""".stripMargin

  /** `txt_bpe_train` FULL REPLAY oracle (see [[bpeRoundCtes]]). */
  private lazy val bpeTrainOracleSql: String =
    s"""WITH ${bpeHeadCtes(withApply = false)},
       |${bpeRoundCtes(withApply = false)},
       |$bpeGuardCte
       |SELECT merge_idx, l AS "left", r AS "right", pf AS pair_freq
       |FROM a$BpeUnrollBudget, chk ORDER BY merge_idx""".stripMargin

  /** `txt_apply_bpe` FULL REPLAY oracle: the same unrolled merge
    * schedule applied to EVERY distinct word (u-chain — sequential
    * rank-order application, which [[tokenizeWord]]'s monotone pointer
    * implements), then per-doc sums with multiplicity via the word
    * join; empty words join nothing and contribute the trainer's own
    * zeros. */
  private lazy val applyBpeOracleSql: String =
    s"""WITH ${bpeHeadCtes(withApply = true)},
       |${bpeRoundCtes(withApply = true)},
       |$bpeGuardCte,
       |wt AS (SELECT w, CAST(length(w) AS BIGINT) AS nb,
       |              CAST(len(syms) AS BIGINT) AS na
       |       FROM u$BpeUnrollBudget),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |       FROM documents)
       |SELECT d.doc_id,
       |       COALESCE(CAST(SUM(wt.nb) AS BIGINT), 0) AS n_symbols_before,
       |       COALESCE(CAST(SUM(wt.na) AS BIGINT), 0) AS n_tokens_after,
       |       CAST(COALESCE(SUM(wt.na), 0) AS DOUBLE)
       |         / CAST(GREATEST(COALESCE(SUM(wt.nb), 0), 1) AS DOUBLE)
       |         AS compression_ratio
       |FROM dw d LEFT JOIN wt ON d.w = wt.w, chk
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The txt_quality_lr TRAINING REPLAY: feature centering plus
    * [[QualityLrRounds]] full-batch GD rounds unrolled as MATERIALIZED
    * 1-row CTEs (default inlining re-evaluates a K-deep CTE chain
    * exponentially — the emb_mmr_rerank lesson). Every float op
    * (rational sigmoid, fixed-point FLOOR grid, the update's divide
    * chain) is written with the exact parenthesization the Scala
    * training loop uses, so the replayed weights are bit-identical. */
  private val qualityLrOracleSql: String = {
    val lr = QualityLrRate
    def z(w: String) =
      s"((($w.wb + ($w.w1 * fc.x1)) + ($w.w2 * fc.x2)) + ($w.w3 * fc.x3))"
    def p(w: String) =
      s"(0.5 + (0.5 * (${z(w)} / (1.0 + ABS(${z(w)})))))"
    def gsum(e: String) =
      s"CAST(SUM(CAST(FLOOR(($e)*1e9) AS DECIMAL(28,0))) AS DOUBLE)"
    val rounds = (1 to QualityLrRounds).map { k =>
      val pw = s"w${k - 1}"
      val err = s"(${p(pw)} - fc.y)"
      s"""g$k AS MATERIALIZED (SELECT
         |  ${gsum(err)} AS gb, ${gsum(s"($err)*fc.x1")} AS g1,
         |  ${gsum(s"($err)*fc.x2")} AS g2, ${gsum(s"($err)*fc.x3")} AS g3,
         |  CAST(COUNT(*) AS DOUBLE) AS n FROM fc, $pw),
         |w$k AS MATERIALIZED (SELECT
         |  ($pw.wb - $lr * ((g$k.gb / 1e9) / g$k.n)) AS wb,
         |  ($pw.w1 - $lr * ((g$k.g1 / 1e9) / g$k.n)) AS w1,
         |  ($pw.w2 - $lr * ((g$k.g2 / 1e9) / g$k.n)) AS w2,
         |  ($pw.w3 - $lr * ((g$k.g3 / 1e9) / g$k.n)) AS w3
         |  FROM g$k, $pw)""".stripMargin
    }.mkString(",\n")
    val wN = s"w$QualityLrRounds"
    s"""WITH f0 AS MATERIALIZED (
       |  SELECT doc_id, quality_score AS x1, (1.0 - dup_3gram_ratio) AS x2,
       |         ttr AS x3, CASE WHEN composite >= CAST($EnsembleBar AS DOUBLE)
       |                         THEN 1.0 ELSE 0.0 END AS y
       |  FROM ($ensembleSelectSql)),
       |mu AS MATERIALIZED (SELECT
       |  ((${"CAST(SUM(CAST(FLOOR((x1)*1e9) AS DECIMAL(28,0))) AS DOUBLE)"} / 1e9)
       |     / CAST(COUNT(*) AS DOUBLE)) AS mu1,
       |  ((CAST(SUM(CAST(FLOOR((x2)*1e9) AS DECIMAL(28,0))) AS DOUBLE) / 1e9)
       |     / CAST(COUNT(*) AS DOUBLE)) AS mu2,
       |  ((CAST(SUM(CAST(FLOOR((x3)*1e9) AS DECIMAL(28,0))) AS DOUBLE) / 1e9)
       |     / CAST(COUNT(*) AS DOUBLE)) AS mu3
       |  FROM f0),
       |fc AS MATERIALIZED (
       |  SELECT doc_id, (x1 - mu.mu1) AS x1, (x2 - mu.mu2) AS x2,
       |         (x3 - mu.mu3) AS x3, y FROM f0, mu),
       |w0 AS MATERIALIZED (SELECT CAST(0 AS DOUBLE) AS wb,
       |  CAST(0 AS DOUBLE) AS w1, CAST(0 AS DOUBLE) AS w2,
       |  CAST(0 AS DOUBLE) AS w3),
       |$rounds
       |SELECT f0.doc_id, f0.x1 AS quality_score, f0.x2 AS inv_rep,
       |       f0.x3 AS ttr, f0.y = 1.0 AS label,
       |       ${p(wN).replace("fc.", "fc2.")} AS lr_score,
       |       ${p(wN).replace("fc.", "fc2.")} >= 0.5 AS keep_lr
       |FROM f0 JOIN fc fc2 USING (doc_id), $wN
       |ORDER BY f0.doc_id""".stripMargin
  }

  /** The txt_lm_score recompute as a reusable WITH-body ending in an
    * `lm(doc_id, n_bigrams, lm_score)` CTE — shared with the
    * txt_ccnet_bucket oracle. */
  private val lmScoreCte: String =
    s"""bg AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
       |           i -> t[i] || ' ' || t[i+1])) AS bigram,
       |         unnest(list_transform(generate_series(1, len(t)-1),
       |           i -> t[i])) AS ctx
       |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
       |  WHERE len(t) >= 2),
       |c2 AS (SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY 1),
       |c1 AS (SELECT token, COUNT(*) AS c1
       |       FROM (SELECT unnest(string_split(text,' ')) AS token
       |             FROM documents) GROUP BY 1),
       |v AS (SELECT COUNT(*) AS v FROM c1),
       |p AS (
       |  SELECT bg.doc_id,
       |         (CAST(c2.c2 AS DOUBLE) + 1.0)
       |           / (CAST(c1.c1 AS DOUBLE) + CAST(v.v AS DOUBLE)) AS p
       |  FROM bg JOIN c2 USING (bigram)
       |          JOIN c1 ON c1.token = bg.ctx CROSS JOIN v),
       |lm AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |         CAST(SUM(CAST(FLOOR(p*$LmScale) AS DECIMAL(38,0))) AS DOUBLE)
       |           / $LmScale / COUNT(*) AS lm_score
       |  FROM p GROUP BY doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("txt_stats", stats,
      """SELECT doc_id, length(text) AS n_chars,
        |       len(string_split(text,' ')) AS n_tokens,
        |       len(list_distinct(string_split(text,' '))) AS n_uniq_tokens,
        |       (length(text) - (len(string_split(text,' ')) - 1)) * 1.0
        |         / len(string_split(text,' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("txt_lang_id", langId, langIdOracle),
    QueryDef("txt_lang_confusion", langConfusion,
      s"""WITH lid AS ($langIdOracle),
         |cells AS (SELECT d.lang, l.pred_lang, COUNT(*) AS n_docs
         |          FROM lid l JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_total
         |        FROM cells GROUP BY 1)
         |SELECT lang, pred_lang, n_docs, lang_total,
         |       CAST(n_docs AS DOUBLE) / CAST(lang_total AS DOUBLE) AS cell_share,
         |       lang = pred_lang AS agree
         |FROM cells JOIN tot USING (lang)
         |ORDER BY lang, pred_lang""".stripMargin),
    QueryDef("txt_quality", quality, qualityOracleSql),
    QueryDef("txt_quality_by_source", qualityBySource,
      s"""WITH sc AS (SELECT q.doc_id, q.quality_score, d.source
         |            FROM ($qualityOracleSql) q
         |            JOIN documents d USING (doc_id)),
         |r AS (SELECT source, quality_score,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY quality_score, doc_id) AS rk,
         |        COUNT(*) OVER (PARTITION BY source) AS n_docs
         |      FROM sc)
         |SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
         |       MAX(CASE WHEN rk = CAST(CEIL(CAST(n_docs AS DOUBLE) * 0.25)
         |             AS BIGINT) THEN quality_score END) AS q25,
         |       MAX(CASE WHEN rk = CAST(CEIL(CAST(n_docs AS DOUBLE) * 0.5)
         |             AS BIGINT) THEN quality_score END) AS q50,
         |       MAX(CASE WHEN rk = CAST(CEIL(CAST(n_docs AS DOUBLE) * 0.75)
         |             AS BIGINT) THEN quality_score END) AS q75
         |FROM r GROUP BY 1 ORDER BY source""".stripMargin),
    QueryDef("txt_source_divergence", sourceDivergence,
      """WITH tc AS (SELECT source, token, COUNT(*) AS c
        |            FROM (SELECT source, unnest(string_split(text,' ')) AS token
        |                  FROM documents)
        |            GROUP BY 1, 2),
        |per AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b, a.c AS ca, b.c AS cb
        |      FROM tc a JOIN tc b ON a.token = b.token AND a.source < b.source),
        |j AS (SELECT src_a, src_b, pa.n AS n_a, pb.n AS n_b,
        |             CAST(ca AS DECIMAL(18,0)) * CAST(pb.n AS DECIMAL(18,0)) AS x,
        |             CAST(cb AS DECIMAL(18,0)) * CAST(pa.n AS DECIMAL(18,0)) AS y
        |      FROM p JOIN per pa ON src_a = pa.source
        |             JOIN per pb ON src_b = pb.source),
        |g AS (SELECT src_a, src_b, n_a, n_b, COUNT(*) AS n_shared_tokens,
        |             SUM(CAST(ABS(x - y) AS DECIMAL(38,0))) AS sabs,
        |             SUM(CAST(x + y AS DECIMAL(38,0))) AS ssum
        |      FROM j GROUP BY 1, 2, 3, 4)
        |SELECT src_a, src_b, n_shared_tokens,
        |       1.0 + (CAST(sabs AS DOUBLE) - CAST(ssum AS DOUBLE))
        |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS tvd
        |FROM g ORDER BY src_a, src_b""".stripMargin),
    QueryDef("txt_length_profile", lengthProfile,
      s"""WITH t AS (SELECT source,
         |             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
         |           FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |       ${Gold.fixedRoundSql("quantile_cont(n_tokens, 0.1)", 4)} AS p10_tokens,
         |       ${Gold.fixedRoundSql("quantile_cont(n_tokens, 0.5)", 4)} AS p50_tokens,
         |       ${Gold.fixedRoundSql("quantile_cont(n_tokens, 0.9)", 4)} AS p90_tokens,
         |       CAST(SUM(n_tokens) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS mean_tokens
         |FROM t GROUP BY source ORDER BY source""".stripMargin),
    QueryDef("txt_strip_repeats", stripRepeats,
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |tok AS (SELECT doc_id, CAST(i-1 AS BIGINT) AS pos, t[i] AS tok
        |        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        |              FROM d)),
        |tri AS (SELECT doc_id, CAST(i-1 AS BIGINT) AS gpos,
        |               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        |        FROM (SELECT doc_id, t,
        |                unnest(generate_series(1, len(t)-2)) AS i
        |              FROM d WHERE len(t) >= 3)),
        |f AS (SELECT doc_id, g, MIN(gpos) AS minpos FROM tri GROUP BY 1, 2),
        |cov AS (SELECT DISTINCT doc_id,
        |          CAST(unnest(generate_series(gpos, gpos+2)) AS BIGINT) AS pos
        |        FROM tri JOIN f USING (doc_id, g) WHERE gpos > minpos),
        |kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
        |         LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
        |         WHERE cov.pos IS NULL),
        |agg AS (SELECT doc_id, COUNT(*) AS n_tokens_after,
        |               string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
        |        FROM kept GROUP BY 1),
        |base AS (SELECT doc_id,
        |           CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens_before
        |         FROM documents)
        |SELECT b.doc_id, n_tokens_before, n_tokens_after,
        |       CAST(n_tokens_before - n_tokens_after AS DOUBLE)
        |         / CAST(n_tokens_before AS DOUBLE) AS removed_fraction,
        |       cleaned_text
        |FROM base b JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),
    QueryDef("txt_bpe_pairs", bpePairs,
      s"""WITH w AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
         |p AS (SELECT substring(w, CAST(i AS INT), 2) AS pair
         |      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS i
         |            FROM w WHERE len(w) >= 2))
         |SELECT pair, COUNT(*) AS n FROM p
         |GROUP BY 1 ORDER BY n DESC, pair LIMIT $BpeTopK""".stripMargin),
    QueryDef("txt_quality_ensemble", qualityEnsemble,
      s"""$ensembleSelectSql
         |ORDER BY doc_id""".stripMargin),
    QueryDef("txt_quality_lr", qualityLr, qualityLrOracleSql),
    QueryDef("txt_bpe_train", bpeTrain, bpeTrainOracleSql),
    QueryDef("txt_apply_bpe", applyBpe, applyBpeOracleSql),
    QueryDef("txt_freq_spectrum", freqSpectrum,
      """WITH t AS (SELECT unnest(string_split(text,' ')) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1)
        |SELECT cnt AS token_count, COUNT(*) AS n_types,
        |       cnt * COUNT(*) AS token_mass
        |FROM c GROUP BY cnt ORDER BY token_count""".stripMargin),
    QueryDef("txt_pmi_pairs", pmiPairs,
      s"""WITH bg AS (
         |  SELECT unnest(list_transform(generate_series(1, len(t)-1),
         |           i -> t[i] || ' ' || t[i+1])) AS bigram
         |  FROM (SELECT string_split(text,' ') AS t FROM documents)
         |  WHERE len(t) >= 2),
         |c2 AS (SELECT bigram, COUNT(*) AS n_pair FROM bg GROUP BY 1),
         |tok AS (SELECT unnest(string_split(text,' ')) AS token FROM documents),
         |c1 AS (SELECT token, COUNT(*) AS c1 FROM tok GROUP BY 1),
         |nb AS (SELECT COUNT(*) AS nb FROM bg),
         |nu AS (SELECT COUNT(*) AS nu FROM tok),
         |p AS (SELECT bigram, n_pair,
         |             string_split(bigram, ' ')[1] AS w1,
         |             string_split(bigram, ' ')[2] AS w2
         |      FROM c2 WHERE n_pair >= $PmiMinSupport)
         |SELECT bigram, n_pair, a.c1 AS n_first, b.c1 AS n_second,
         |       (CAST(n_pair AS DOUBLE)/CAST(nb AS DOUBLE))
         |         / ((CAST(a.c1 AS DOUBLE)/CAST(nu AS DOUBLE))
         |           * (CAST(b.c1 AS DOUBLE)/CAST(nu AS DOUBLE))) AS lift
         |FROM p JOIN c1 a ON p.w1 = a.token JOIN c1 b ON p.w2 = b.token
         |CROSS JOIN nb CROSS JOIN nu
         |ORDER BY lift DESC, bigram LIMIT $PmiTopK""".stripMargin),
    QueryDef("txt_vocab", vocab,
      s"""WITH t AS (SELECT unnest(string_split(text,' ')) AS token FROM documents),
         |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1),
         |r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS INT)
         |               AS id, token, cnt
         |      FROM c)
         |SELECT id, token, cnt FROM r WHERE id < $VocabK ORDER BY id""".stripMargin),
    QueryDef("txt_oov", oovScore,
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS token
         |           FROM documents),
         |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1),
         |r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS INT)
         |               AS id, token
         |      FROM c),
         |v AS (SELECT token FROM r WHERE id < $VocabK),
         |g AS (SELECT doc_id, COUNT(*) AS n_tokens,
         |             COUNT(*) FILTER (WHERE v.token IS NULL) AS n_oov
         |      FROM t LEFT JOIN v ON t.token = v.token GROUP BY 1)
         |SELECT doc_id, n_tokens, n_oov,
         |       CAST(n_oov AS DOUBLE) / n_tokens AS oov_ratio
         |FROM g ORDER BY doc_id""".stripMargin),
    QueryDef("txt_top_ngrams", topNgrams,
      """SELECT bg AS bigram, COUNT(*) AS n FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM (SELECT string_split(text,' ') AS t FROM documents)
        |  WHERE len(t) >= 2)
        |GROUP BY bg ORDER BY n DESC, bg LIMIT 20""".stripMargin),
    QueryDef("txt_token_count", tokenCount,
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS n_ws_tokens,
        |       len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("txt_corpus_profile", corpusProfile,
      s"""WITH q AS (SELECT * FROM ($qualityOracleSql)),
         |j AS (SELECT d.lang, q.n_tokens, q.quality_score, q.passed
         |      FROM documents d JOIN q ON d.doc_id = q.doc_id)
         |SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       ${Gold.moneySumSql("quality_score")}/COUNT(*) AS mean_quality,
         |       CAST(SUM(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT)*1.0/COUNT(*)
         |         AS pass_rate
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin),
    QueryDef("txt_normalize", normalize,
      """SELECT doc_id,
        |       trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
        |       trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> text AS changed
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("txt_chunks", chunks,
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks,
         |                  len(string_split(text,' ')) AS n FROM documents),
         |e AS (SELECT doc_id, toks,
         |             unnest(generate_series(0, (n-1)//$ChunkStride)) AS chunk_idx
         |      FROM d),
         |c AS (SELECT doc_id, chunk_idx,
         |             toks[chunk_idx*$ChunkStride+1 : chunk_idx*$ChunkStride+$ChunkSize]
         |               AS ctoks
         |      FROM e)
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |       len(ctoks) AS n_chunk_tokens,
         |       array_to_string(ctoks, ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    QueryDef("txt_lexical", lexicalDiversity,
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT doc_id,
        |         CAST(SUM(c) AS BIGINT) AS n_tokens,
        |         COUNT(*) AS n_types,
        |         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |         CAST(SUM(c*(c-1)) AS BIGINT) AS rep_pairs
        |  FROM tf GROUP BY 1)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        |       n_types*1.0/n_tokens AS ttr,
        |       n_hapax*1.0/n_types AS hapax_frac,
        |       CASE WHEN n_tokens >= 2
        |            THEN rep_pairs*1.0/(n_tokens*(n_tokens-1))
        |            ELSE 0.0 END AS simpson_rep
        |FROM d ORDER BY doc_id""".stripMargin),
    QueryDef("txt_rep_ratio", repRatio,
      """WITH g AS (
        |  SELECT doc_id,
        |         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t)-1),
        |              i -> t[i] || ' ' || t[i+1]) ELSE [] END AS g2,
        |         CASE WHEN len(t) >= 3 THEN list_transform(generate_series(1, len(t)-2),
        |              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3
        |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents))
        |SELECT doc_id,
        |       len(g2) AS n_2grams,
        |       CASE WHEN len(g2) > 0
        |            THEN (len(g2) - len(list_distinct(g2)))*1.0/len(g2)
        |            ELSE 0.0 END AS dup_2gram_ratio,
        |       len(g3) AS n_3grams,
        |       CASE WHEN len(g3) > 0
        |            THEN (len(g3) - len(list_distinct(g3)))*1.0/len(g3)
        |            ELSE 0.0 END AS dup_3gram_ratio
        |FROM g ORDER BY doc_id""".stripMargin),
    QueryDef("txt_pii_profile", piiProfile,
      s"""WITH d AS (
         |  SELECT source, n_chars,
         |         len(regexp_extract_all(text, '$EmailPat')) AS e,
         |         len(regexp_extract_all(text, '$Ipv4Pat')) AS i,
         |         len(regexp_extract_all(text, '$PhonePat')) AS p
         |  FROM documents)
         |SELECT source, COUNT(*) AS n_docs,
         |       CAST(SUM(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_docs_with_pii,
         |       CAST(SUM(e) AS BIGINT) AS n_emails,
         |       CAST(SUM(i) AS BIGINT) AS n_ips,
         |       CAST(SUM(p) AS BIGINT) AS n_phones,
         |       CAST(SUM(CASE WHEN e + i + p > 0 THEN 1 ELSE 0 END)
         |           AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pii_doc_rate,
         |       (CAST(SUM(e) + SUM(i) + SUM(p) AS DOUBLE) * 1000.0)
         |         / CAST(SUM(n_chars) AS DOUBLE) AS pii_per_kchar
         |FROM d GROUP BY 1 ORDER BY source""".stripMargin),
    QueryDef("txt_redact", redact,
      s"""SELECT doc_id,
         |       len(regexp_extract_all(text, '$EmailPat')) AS n_emails,
         |       len(regexp_extract_all(text, '$Ipv4Pat')) AS n_ips,
         |       len(regexp_extract_all(text, '$PhonePat')) AS n_phones,
         |       regexp_replace(regexp_replace(regexp_replace(text,
         |         '$EmailPat', '<EMAIL>', 'g'),
         |         '$Ipv4Pat', '<IP>', 'g'),
         |         '$PhonePat', '<PHONE>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("txt_fingerprint", fingerprint,
      """SELECT doc_id,
        |       list_reduce(list_transform(generate_series(1, length(text)),
        |         i -> CAST(unicode(substr(text,i,1)) AS BIGINT)),
        |         (acc,c) -> (acc*31+c) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("txt_tfidf", tfidf,
      s"""WITH tf AS (
         |  SELECT doc_id, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term
         |        FROM documents)
         |  GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |w AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |         CAST(tf.tf AS DOUBLE) *
         |           ((CAST(n.n_docs AS DOUBLE) + 1.0)
         |             / (CAST(df.df AS DOUBLE) + 1.0)) AS weight
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY weight DESC, term) AS rn FROM w)
         |SELECT doc_id, term, tf, df, weight, CAST(rn AS INT) AS rn
         |FROM r WHERE rn <= $TfidfTopK ORDER BY doc_id, rn""".stripMargin),
    QueryDef("txt_lm_score", lmScore,
      s"""WITH $lmScoreCte
         |SELECT doc_id, n_bigrams, lm_score FROM lm ORDER BY doc_id""".stripMargin),
    QueryDef("txt_ccnet_bucket", ccnetBucket,
      s"""WITH $lmScoreCte,
         |sc AS (SELECT lm.doc_id, d.lang, lm.lm_score
         |       FROM lm JOIN documents d USING (doc_id)),
         |r AS (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY lang
         |          ORDER BY lm_score DESC, doc_id) AS rn,
         |        COUNT(*) OVER (PARTITION BY lang) AS n_lang
         |      FROM sc)
         |SELECT doc_id, lang, lm_score,
         |       CAST(((rn - 1) * 3) // n_lang AS INT) AS bucket_idx,
         |       CASE ((rn - 1) * 3) // n_lang WHEN 0 THEN 'head'
         |            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM r ORDER BY doc_id""".stripMargin),
    QueryDef("txt_kn_score", (spark, dir) =>
        knScoreOf(Tables.table(spark, dir, "documents"), 2, "n_bigrams", "kn_score"),
      s"""WITH bg AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
         |           i -> t[i])) AS ctx,
         |         unnest(list_transform(generate_series(1, len(t)-1),
         |           i -> t[i+1])) AS nxt
         |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
         |  WHERE len(t) >= 2),
         |c2 AS (SELECT ctx, nxt, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
         |ca AS (SELECT ctx, CAST(SUM(c2) AS BIGINT) AS ca, COUNT(*) AS n1f
         |       FROM c2 GROUP BY 1),
         |n1b AS (SELECT nxt, COUNT(*) AS n1b FROM c2 GROUP BY 1),
         |bt AS (SELECT COUNT(*) AS bt FROM c2),
         |p AS (
         |  SELECT bg.doc_id,
         |         (CAST(c2.c2 AS DOUBLE) - 0.75) / CAST(ca.ca AS DOUBLE)
         |           + ((0.75 * CAST(ca.n1f AS DOUBLE)) / CAST(ca.ca AS DOUBLE))
         |             * (CAST(n1b.n1b AS DOUBLE) / CAST(bt.bt AS DOUBLE)) AS p
         |  FROM bg JOIN c2 USING (ctx, nxt) JOIN ca USING (ctx)
         |          JOIN n1b USING (nxt) CROSS JOIN bt)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |       CAST(SUM(CAST(FLOOR(p*$LmScale) AS DECIMAL(38,0))) AS DOUBLE)
         |         / $LmScale / COUNT(*) AS kn_score
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("txt_kn3_score", (spark, dir) =>
        knScoreOf(Tables.table(spark, dir, "documents"), 3, "n_trigrams", "kn3_score"),
      s"""WITH tg AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2),
         |           i -> t[i])) AS w1,
         |         unnest(list_transform(generate_series(1, len(t)-2),
         |           i -> t[i+1])) AS w2,
         |         unnest(list_transform(generate_series(1, len(t)-2),
         |           i -> t[i+2])) AS w3
         |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
         |  WHERE len(t) >= 3),
         |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM tg GROUP BY 1, 2, 3),
         |c12 AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c12, COUNT(*) AS n12f
         |        FROM c3 GROUP BY 1, 2),
         |mid AS (SELECT w2, w3, COUNT(*) AS cm FROM c3 GROUP BY 1, 2),
         |mctx AS (SELECT w2, CAST(SUM(cm) AS BIGINT) AS cmt, COUNT(*) AS nmf
         |         FROM mid GROUP BY 1),
         |uni AS (SELECT w3, COUNT(*) AS cu FROM mid GROUP BY 1),
         |mt AS (SELECT COUNT(*) AS mt FROM mid),
         |p AS (
         |  SELECT tg.doc_id,
         |         (CAST(c3.c3 AS DOUBLE) - $KnDiscount) / CAST(c12.c12 AS DOUBLE)
         |           + (($KnDiscount * CAST(c12.n12f AS DOUBLE))
         |               / CAST(c12.c12 AS DOUBLE))
         |             * ((CAST(mid.cm AS DOUBLE) - $KnDiscount)
         |                 / CAST(mctx.cmt AS DOUBLE)
         |               + (($KnDiscount * CAST(mctx.nmf AS DOUBLE))
         |                   / CAST(mctx.cmt AS DOUBLE))
         |                 * (CAST(uni.cu AS DOUBLE) / CAST(mt.mt AS DOUBLE))) AS p
         |  FROM tg JOIN c3 USING (w1, w2, w3) JOIN c12 USING (w1, w2)
         |          JOIN mid USING (w2, w3) JOIN mctx USING (w2)
         |          JOIN uni USING (w3) CROSS JOIN mt)
         |SELECT doc_id, COUNT(*) AS n_trigrams,
         |       CAST(SUM(CAST(FLOOR(p*$LmScale) AS DECIMAL(38,0))) AS DOUBLE)
         |         / $LmScale / COUNT(*) AS kn3_score
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("txt_kn5_score", (spark, dir) =>
        knScoreOf(Tables.table(spark, dir, "documents"), 5, "n_5grams", "kn5_score"),
      s"""WITH tg AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-4),
         |           i -> t[i])) AS w1,
         |         unnest(list_transform(generate_series(1, len(t)-4),
         |           i -> t[i+1])) AS w2,
         |         unnest(list_transform(generate_series(1, len(t)-4),
         |           i -> t[i+2])) AS w3,
         |         unnest(list_transform(generate_series(1, len(t)-4),
         |           i -> t[i+3])) AS w4,
         |         unnest(list_transform(generate_series(1, len(t)-4),
         |           i -> t[i+4])) AS w5
         |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
         |  WHERE len(t) >= 5),
         |c5 AS (SELECT w1, w2, w3, w4, w5, COUNT(*) AS c5
         |       FROM tg GROUP BY 1, 2, 3, 4, 5),
         |c14 AS (SELECT w1, w2, w3, w4, CAST(SUM(c5) AS BIGINT) AS c14,
         |               COUNT(*) AS n14f
         |        FROM c5 GROUP BY 1, 2, 3, 4),
         |q4 AS (SELECT w2, w3, w4, w5, COUNT(*) AS c4m
         |       FROM c5 GROUP BY 1, 2, 3, 4),
         |q4ctx AS (SELECT w2, w3, w4, CAST(SUM(c4m) AS BIGINT) AS c4t,
         |                 COUNT(*) AS n4f
         |          FROM q4 GROUP BY 1, 2, 3),
         |q3 AS (SELECT w3, w4, w5, COUNT(*) AS c3m FROM q4 GROUP BY 1, 2, 3),
         |q3ctx AS (SELECT w3, w4, CAST(SUM(c3m) AS BIGINT) AS c3t,
         |                 COUNT(*) AS n3f
         |          FROM q3 GROUP BY 1, 2),
         |q2 AS (SELECT w4, w5, COUNT(*) AS c2m FROM q3 GROUP BY 1, 2),
         |q2ctx AS (SELECT w4, CAST(SUM(c2m) AS BIGINT) AS c2t, COUNT(*) AS n2f
         |          FROM q2 GROUP BY 1),
         |uni AS (SELECT w5, COUNT(*) AS cu FROM q2 GROUP BY 1),
         |bt AS (SELECT COUNT(*) AS bt FROM q2),
         |p AS (
         |  SELECT tg.doc_id,
         |         (CAST(c5.c5 AS DOUBLE) - $KnDiscount) / CAST(c14.c14 AS DOUBLE)
         |           + (($KnDiscount * CAST(c14.n14f AS DOUBLE))
         |               / CAST(c14.c14 AS DOUBLE))
         |             * ((CAST(q4.c4m AS DOUBLE) - $KnDiscount)
         |                 / CAST(q4ctx.c4t AS DOUBLE)
         |               + (($KnDiscount * CAST(q4ctx.n4f AS DOUBLE))
         |                   / CAST(q4ctx.c4t AS DOUBLE))
         |                 * ((CAST(q3.c3m AS DOUBLE) - $KnDiscount)
         |                     / CAST(q3ctx.c3t AS DOUBLE)
         |                   + (($KnDiscount * CAST(q3ctx.n3f AS DOUBLE))
         |                       / CAST(q3ctx.c3t AS DOUBLE))
         |                     * ((CAST(q2.c2m AS DOUBLE) - $KnDiscount)
         |                         / CAST(q2ctx.c2t AS DOUBLE)
         |                       + (($KnDiscount * CAST(q2ctx.n2f AS DOUBLE))
         |                           / CAST(q2ctx.c2t AS DOUBLE))
         |                         * (CAST(uni.cu AS DOUBLE)
         |                             / CAST(bt.bt AS DOUBLE))))) AS p
         |  FROM tg JOIN c5 USING (w1, w2, w3, w4, w5)
         |          JOIN c14 USING (w1, w2, w3, w4)
         |          JOIN q4 USING (w2, w3, w4, w5)
         |          JOIN q4ctx USING (w2, w3, w4)
         |          JOIN q3 USING (w3, w4, w5)
         |          JOIN q3ctx USING (w3, w4)
         |          JOIN q2 USING (w4, w5)
         |          JOIN q2ctx USING (w4)
         |          JOIN uni USING (w5) CROSS JOIN bt)
         |SELECT doc_id, COUNT(*) AS n_5grams,
         |       CAST(SUM(CAST(FLOOR(p*$LmScale) AS DECIMAL(38,0))) AS DOUBLE)
         |         / $LmScale / COUNT(*) AS kn5_score
         |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("txt_topgram_share", topgramShare, {
      def per(n: Int): String = {
        val parts = (0 until n).map(j => s"t[i+$j]").mkString("||' '||")
        s"""g$n AS (SELECT doc_id,
           |  unnest(list_transform(generate_series(1, len(t)-${n - 1}),
           |    i -> $parts)) AS gram
           |  FROM dt WHERE len(t) >= $n),
           |c$n AS (SELECT doc_id, gram, COUNT(*) AS c FROM g$n
           |        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           |m$n AS (SELECT doc_id, MAX(c) AS mc FROM c$n GROUP BY 1),
           |t$n AS (SELECT c$n.doc_id, MIN(c$n.gram) AS top${n}_gram,
           |               MIN(m$n.mc) AS cv$n
           |        FROM c$n JOIN m$n ON c$n.doc_id = m$n.doc_id
           |                          AND c$n.c = m$n.mc
           |        GROUP BY 1)""".stripMargin
      }
      def frac(n: Int): String =
        s"COALESCE(CAST(cv$n AS DOUBLE) * length(top${n}_gram) " +
          s"/ CAST(doc_chars AS DOUBLE), 0.0)"
      s"""WITH dt AS (SELECT doc_id, length(text) AS doc_chars,
         |                   string_split(text,' ') AS t
         |            FROM documents),
         |${per(2)},
         |${per(3)},
         |${per(4)}
         |SELECT dt.doc_id, top2_gram, ${frac(2)} AS top2_frac,
         |       top3_gram, ${frac(3)} AS top3_frac,
         |       top4_gram, ${frac(4)} AS top4_frac,
         |       (${frac(2)} > ${TopgramThresholds(2)}
         |        OR ${frac(3)} > ${TopgramThresholds(3)}
         |        OR ${frac(4)} > ${TopgramThresholds(4)}) AS flagged
         |FROM dt LEFT JOIN t2 ON dt.doc_id = t2.doc_id
         |        LEFT JOIN t3 ON dt.doc_id = t3.doc_id
         |        LEFT JOIN t4 ON dt.doc_id = t4.doc_id
         |ORDER BY dt.doc_id""".stripMargin
    }),
    QueryDef("txt_bm25", bm25, {
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text,' ')) AS token
         |  FROM documents),
         |ft AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
         |       WHERE token IN ($termList) GROUP BY 1, 2),
         |df AS (SELECT token, COUNT(*) AS df FROM ft GROUP BY 1),
         |dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
         |st AS (SELECT COUNT(*) AS n_docs,
         |              CAST(SUM(CAST(len(string_split(text,' ')) AS BIGINT)) AS DOUBLE)
         |                / COUNT(*) AS avgdl
         |       FROM documents),
         |term AS (
         |  -- k1/b wrapped in CAST AS DOUBLE: a bare 1.2 is DECIMAL in
         |  -- DuckDB, and decimal-exact (k1+1) cast late can round to a
         |  -- different double than Spark's double-addition
         |  SELECT ft.doc_id,
         |         ((CAST(st.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE)
         |             + CAST(0.5 AS DOUBLE))
         |            / (CAST(df.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |            + CAST(1.0 AS DOUBLE)) *
         |           ((CAST(ft.tf AS DOUBLE)
         |               * (CAST($Bm25K1 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
         |             / (CAST(ft.tf AS DOUBLE) + CAST($Bm25K1 AS DOUBLE) *
         |               (CAST(1.0 AS DOUBLE) - CAST($Bm25B AS DOUBLE)
         |                 + CAST($Bm25B AS DOUBLE) *
         |                   (CAST(dl.dl AS DOUBLE) / st.avgdl)))) AS s
         |  FROM ft JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN st)
         |SELECT doc_id,
         |       CAST(SUM(CAST(FLOOR(s*$LmScale) AS DECIMAL(38,0))) AS DOUBLE)
         |         / $LmScale AS score
         |FROM term GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin
    }),
    QueryDef("txt_rag", ragChunks, {
      val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, string_split(text,' ') AS toks,
         |                  len(string_split(text,' ')) AS n FROM documents),
         |e AS (SELECT doc_id, toks,
         |             unnest(generate_series(0, (n-1)//$ChunkStride)) AS chunk_idx
         |      FROM d),
         |ch AS (SELECT doc_id, chunk_idx,
         |              toks[chunk_idx*$ChunkStride+1 : chunk_idx*$ChunkStride+$ChunkSize]
         |                AS ctoks
         |       FROM e),
         |cl AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |              CAST(len(ctoks) AS BIGINT) AS dl, ctoks FROM ch),
         |tok AS (SELECT doc_id, chunk_idx, unnest(ctoks) AS token FROM cl),
         |tf AS (SELECT doc_id, chunk_idx, token, COUNT(*) AS tf
         |       FROM tok WHERE token IN ($terms) GROUP BY 1, 2, 3),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n_chunks,
         |              CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM cl),
         |term AS (
         |  SELECT tf.doc_id, tf.chunk_idx,
         |         ((CAST(n_chunks AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
         |            / (CAST(df AS DOUBLE) + 0.5) + 1.0) *
         |         ((CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
         |            / (CAST(tf AS DOUBLE) + $Bm25K1 *
         |               (1.0 - $Bm25B + $Bm25B *
                          (CAST(dl AS DOUBLE) / avgdl)))) AS s
         |  FROM tf JOIN df USING (token)
         |  JOIN cl USING (doc_id, chunk_idx) CROSS JOIN st)
         |SELECT doc_id, chunk_idx,
         |       CAST(SUM(CAST(FLOOR(s*$LmScale) AS DECIMAL(38,0))) AS DOUBLE)
         |         / $LmScale AS score
         |FROM term GROUP BY 1, 2
         |ORDER BY score DESC, doc_id, chunk_idx LIMIT $RagTopK""".stripMargin
    }),
    QueryDef("txt_novelty", novelty,
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        |  FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
        |  WHERE len(t) >= 3),
        |df AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY 1)
        |SELECT sh.doc_id, COUNT(*) AS n_shingles,
        |       COUNT(*) FILTER (WHERE df.df >= 2) AS n_dup,
        |       COUNT(*) FILTER (WHERE df.df >= 2)*1.0/COUNT(*) AS dup_frac
        |FROM sh JOIN df USING (g) GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("txt_compress", compressionRatio))
}
