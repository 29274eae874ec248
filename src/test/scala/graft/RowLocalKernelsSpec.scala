package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.ExistenceJoin
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.{Clustering, DataQuality, TextAnalysis}
import graft.sources.Tables

/** The row-local kernels against the derivations they replaced, on
  * inputs built to split them: the per-document [[functions.TokenStats]]
  * against explode → `groupBy(doc_id, term)` and the typed n-gram pass,
  * the [[functions.NearestCentroid]] argmin against
  * `crossJoin(broadcast(book))` + `min(struct(d2, cell))`, and the
  * one-scan FK checks against one left-anti join per key. Then the
  * plan shapes the kernels exist for: no shuffle below the final sort
  * of the text keys, no nested-loop join in `emb_kmeans`, one scan of
  * the fact in `dq_referential` and in the pipeline's gate. */
class RowLocalKernelsSpec extends SparkSpec {

  // ---- former derivations (the references) -------------------------------

  private def formerLexical(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("c") * (col("c") - 1)).as("rep_pairs"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        (col("n_types") * lit(1.0) / col("n_tokens")).as("ttr"),
        (col("n_hapax") * lit(1.0) / col("n_types")).as("hapax_frac"),
        when(col("n_tokens") >= 2,
          col("rep_pairs") * lit(1.0) / (col("n_tokens") * (col("n_tokens") - 1)))
          .otherwise(lit(0.0)).as("simpson_rep"))

  private def formerRepRatio(docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val toks = text.split(" ", -1)
        val (n2, d2) = RowLocalKernelsSpec.gramStats(toks, 2)
        val (n3, d3) = RowLocalKernelsSpec.gramStats(toks, 3)
        (id, n2, if (n2 > 0) (n2 - d2) * 1.0 / n2 else 0.0,
          n3, if (n3 > 0) (n3 - d3) * 1.0 / n3 else 0.0)
      }
      .toDF("doc_id", "n_2grams", "dup_2gram_ratio", "n_3grams", "dup_3gram_ratio")
  }

  private def formerAssign(vecs: DataFrame, cents: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    vecs.crossJoin(broadcast(cents.toDF("cell", "c")))
      .select(col("vec_id"), col("cell"),
        (VectorFunctions.dot(col("e"), col("e"))
          - lit(2.0) * VectorFunctions.dot(col("e"), col("c"))
          + VectorFunctions.dot(col("c"), col("c"))).as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"), col("m.d2").as("d2"))
  }

  private def formerOrphans(fact: DataFrame, fk: String, dim: DataFrame): Long =
    fact.select(col(fk).as("fkv"))
      .join(broadcast(dim.toDF("k")), col("fkv") === col("k"), "left_anti")
      .count()

  private def rows(df: DataFrame, key: String): Seq[Row] =
    df.orderBy(key).collect().toSeq

  /** `docs` written as the `documents` table of a fresh dir. */
  private def docsDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rowlocal").toString
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** Empty text; leading, trailing, doubled and only spaces; one-token
    * docs; repeats whose space-joined grams could collide ("ab" vs
    * "a b"); tabs (not separators); multi-byte tokens. */
  private val adversarialTexts: Seq[String] = Seq(
    "", " ", "  ", "word", "  a", "a  ", " a b ", "a  b  a",
    "the cat the cat the cat", "x x x x", "a b c a b c a b c d",
    "ab a b ab a b", "a\tb a\tb", "的 是 在 的 是", "a b",
    (1 to 120).map(i => s"w${i % 7}").mkString(" "))

  test("token-stats kernel equals the explode/groupBy and typed n-gram derivations") {
    val docs = adversarialTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val dir = docsDir(docs)
    val src = Tables.table(spark, dir, "documents")
    assert(rows(TextAnalysis.lexicalDiversity(spark, dir), "doc_id") ==
      rows(formerLexical(src), "doc_id"))
    assert(rows(TextAnalysis.repRatio(spark, dir), "doc_id") ==
      rows(formerRepRatio(src), "doc_id"))
    // the empty text is one empty token, " " two: split's limit −1
    val lex = TextAnalysis.lexicalDiversity(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lex(0L) == 1L && lex(1L) == 2L && lex(2L) == 3L)
  }

  test("quality ensemble equals the doc_id join of its three former components") {
    // quality divides by length(text): the empty text fails it under ANSI
    // in either form, so the ensemble sees every other adversarial doc
    val docs = adversarialTexts.zipWithIndex.collect {
      case (t, i) if t.nonEmpty => (i.toLong, t)
    }
    val dir = docsDir(docs)
    val src = Tables.table(spark, dir, "documents")
    val composite = lit(0.5) * col("quality_score") +
      lit(0.25) * (lit(1.0) - col("dup_3gram_ratio")) + lit(0.25) * col("ttr")
    val former = TextAnalysis.quality(spark, dir).select("doc_id", "quality_score")
      .join(formerRepRatio(src).select("doc_id", "dup_3gram_ratio"), "doc_id")
      .join(formerLexical(src).select("doc_id", "ttr"), "doc_id")
      .select(col("doc_id"), col("quality_score"), col("dup_3gram_ratio"),
        col("ttr"), composite.as("composite"),
        (composite >= TextAnalysis.EnsembleBar).as("keep"))
    assert(rows(TextAnalysis.qualityEnsemble(spark, dir), "doc_id") ==
      rows(former, "doc_id"))
  }

  test("nearest-centroid kernel equals the cross-join argmin on ties, signed zeros, NaN") {
    import spark.implicits._
    // listed out of cell order; 5 duplicates 7, and 9 is 2 with a −0.0
    // coordinate, so exact d2 ties must go to the smaller cell. (d2
    // itself is never −0.0: every dot product starts from +0.0.)
    val cents: Seq[(Long, Seq[Double])] = Seq(
      7L -> Seq(1.0, 0.0), 3L -> Seq(-1.0, 0.0), 5L -> Seq(1.0, 0.0),
      9L -> Seq(-0.0, 1.0), 2L -> Seq(0.0, 1.0), 11L -> Seq(0.5, 0.5))
    val grid = Seq(-1.0, -0.5, -0.0, 0.0, 0.5, 1.0)
    val special: Seq[Seq[Double]] = Seq(
      Seq(Double.NaN, 0.0), Seq(Double.PositiveInfinity, 0.0),
      Seq(0.0, Double.NegativeInfinity), Seq(1e308, 1e308), Seq(-0.0, -0.0))
    val vecs: Seq[(Long, Option[Seq[Double]])] =
      ((for (x <- grid; y <- grid) yield Seq(x, y)) ++ special)
        .zipWithIndex.map { case (e, i) => (i.toLong, Some(e)) } :+ (999L, None)
    val c = vecs.toDF("vec_id", "e")
    val got = rows(Clustering.assign(c, cents).select("vec_id", "cell", "d2"),
      "vec_id")
    assert(got == rows(formerAssign(c, cents), "vec_id"))
    val byId = got.map(r => r.getLong(0) -> r).toMap
    assert(byId(999L).getLong(1) == 2L && byId(999L).isNullAt(2))
    // (1, 0) sits on cells 7 and 5 at d2 = 0: the smaller cell wins
    val onDup = vecs.collectFirst { case (id, Some(Seq(1.0, 0.0))) => id }.get
    assert(byId(onDup).getLong(1) == 5L && byId(onDup).getDouble(2) == 0.0)
  }

  test("one-scan FK checks equal one left-anti join per key: dup keys, null FKs, orphans") {
    import spark.implicits._
    val fact = Seq[(Long, Option[Long], Option[Long])](
      (1L, Some(10L), Some(1L)), (2L, Some(11L), None), (3L, Some(99L), Some(2L)),
      (4L, None, Some(3L)), (5L, Some(10L), Some(3L)), (6L, Some(12L), Some(1L)))
      .toDF("id", "fa", "fb")
    val dimA = Seq(10L, 10L, 11L, 12L).toDF("a")            // duplicate key
    val dimB = Seq(Some(1L), Some(2L), Some(2L), None).toDF("b") // null key
    val got = DataQuality.orphanChecks(fact, Seq(("a_fk", "fa", dimA), ("b_fk", "fb", dimB)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(
      "a_fk" -> (formerOrphans(fact, "fa", dimA), false),
      "b_fk" -> (formerOrphans(fact, "fb", dimB), false)))
    assert(got("a_fk")._1 == 2L && got("b_fk")._1 == 3L)
    // the gate folds the same checks into its sales aggregate
    val sales = Seq[(Option[Long], Long, Double, Option[Long], Long)](
      (Some(1L), 2L, 1.0, Some(10L), 7L), (None, 0L, -1.0, None, 8L),
      (Some(2L), 1L, 2.0, Some(10L), 9L))
      .toDF("product_id", "quantity", "unit_price", "customer_id", "store_id")
    val gate = DataQuality.genericRules(sales,
      Seq(10L, 10L).toDF("customer_id"), Seq(1L, 2L).toDF("product_id"),
      Seq(7L, 8L).toDF("store_id"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(gate == Map(
      "customer_id_unique" -> 1L, "product_id_unique" -> 0L,
      "product_id_not_null" -> 1L, "quantity_positive" -> 1L,
      "unit_price_non_negative" -> 1L, "sales_customer_id_fk" -> 1L,
      "sales_product_id_fk" -> 1L, "sales_store_id_fk" -> 1L))
  }

  // ---- plan shapes ---------------------------------------------------------

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  private def scansOf(df: DataFrame, table: String): Int =
    nodes(df.queryExecution.executedPlan).count {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName == s"$table.parquet")
      case _ => false
    }

  test("text keys: no Exchange below the final sort") {
    Seq("txt_quality_ensemble", "txt_lexical", "txt_rep_ratio").foreach { key =>
      val shape = PlanFingerprint.shape(SparkEntry.queries(key)(spark, sfDir))
      val exchanges = shape.linesIterator.map(_.trim).filter(_.startsWith("Exchange")).toSeq
      assert(exchanges == Seq("Exchange[RangePartitioning]"), s"$key:\n$shape")
      assert(!shape.contains("Join"), s"$key:\n$shape")
    }
  }

  test("emb_kmeans assigns without a nested-loop join or an id-keyed shuffle") {
    val shape = PlanFingerprint.shape(SparkEntry.queries("emb_kmeans")(spark, sfDir))
    assert(!shape.contains("BroadcastNestedLoopJoin"), shape)
    assert(shape.linesIterator.map(_.trim).count(_.startsWith("Exchange")) == 1, shape)
  }

  test("dq_referential and the pipeline gate scan lineitem once, probing broadcast dimensions") {
    def both(s: SparkSession): Seq[DataFrame] = Seq(
      SparkEntry.queries("dq_referential")(s, sfDir),
      DataQuality.genericRules(Tables.sales(s, sfDir), Tables.customers(s, sfDir),
        Tables.products(s, sfDir), Tables.stores(s, sfDir)))
    both(spark).foreach(df => assert(scansOf(df, "lineitem") == 1))
    // the dimensions stay broadcast where the size threshold would not
    // pick them (a large dimension at scale): the fact is never shuffled
    val noAutoBroadcast = spark.newSession()
    noAutoBroadcast.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    both(noAutoBroadcast).foreach { df =>
      val existence = nodes(df.queryExecution.executedPlan).collect {
        case j: BaseJoinExec if j.joinType.isInstanceOf[ExistenceJoin] => j.nodeName
      }
      assert(existence == Seq.fill(3)("BroadcastHashJoin"), existence)
    }
  }
}

object RowLocalKernelsSpec {
  /** The former `txt_rep_ratio` per-row pass: k-gram occurrences and
    * distinct k-grams, a gram being its k tokens joined by a space. */
  def gramStats(toks: Array[String], n: Int): (Int, Int) = {
    val total = math.max(0, toks.length - n + 1)
    val seen = (0 until total).map(i => toks.slice(i, i + n).mkString(" ")).toSet
    (total, seen.size)
  }
}
