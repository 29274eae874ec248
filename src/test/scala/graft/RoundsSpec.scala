package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Graph, Rounds}

/** [[Rounds.fixpoint]]'s contract — stop after the first round whose
  * signature repeats, or after exactly the budget — its per-round job
  * cost, and the loops ported onto it on degenerate graphs. */
class RoundsSpec extends SparkSpec {

  // v = id on 0..9; each round lowers every v by one, floored at 0, so
  // after round r (1-based) v = max(id - r, 0) and the sum of v falls
  // strictly until round 9 — round 10 is the first with a repeat
  private def init = spark.range(10).select(col("id"), col("id").as("v"))
  private def sumV(df: DataFrame): Long = df.agg(sum("v")).first().getLong(0)
  private def values(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def run(budget: Int, rounds: ArrayBuffer[Int]): DataFrame =
    Rounds.fixpoint(init, budget)(sumV) { (s, round) =>
      rounds += round
      s.select(col("id"), greatest(col("v") - 1, lit(0L)).as("v"))
    }

  test("stops after the first round whose signature equals the previous one") {
    val rounds = ArrayBuffer[Int]()
    val out = run(30, rounds)
    assert(rounds == (0 until 10))
    assert(values(out) == (0L until 10L).map(_ -> 0L).toMap)
  }

  test("a run that exhausts the budget returns the state after exactly that many rounds") {
    for (budget <- Seq(0, 1, 4)) {
      val rounds = ArrayBuffer[Int]()
      val out = run(budget, rounds)
      assert(rounds == (0 until budget))
      assert(values(out) == (0L until 10L).map(i => i -> math.max(i - budget, 0L)).toMap)
    }
  }

  test("each round costs one checkpoint and one signature: the jobs of a hand-written loop") {
    val jobs = new Bench.JobCounter(spark)
    try {
      jobs.drain()
      sumV(init.localCheckpoint())
      val perState = jobs.drain()
      assert(perState > 0)
      run(3, ArrayBuffer[Int]())
      val viaRounds = jobs.drain()
      // a hand-written loop: checkpoint + signature of the start, then
      // the same per round until a repeat or the budget
      var state = init.localCheckpoint()
      var sig = sumV(state)
      var it = 0
      var done = false
      while (!done && it < 3) {
        val next = state.select(col("id"), greatest(col("v") - 1, lit(0L)).as("v"))
          .localCheckpoint()
        val s = sumV(next)
        done = s == sig
        sig = s; state = next; it += 1
      }
      val viaLoop = jobs.drain()
      assert(viaRounds == viaLoop)
      assert(viaRounds == 4 * perState)
    } finally jobs.close()
  }

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("the ported loops return well-formed results on an empty and a single-edge graph") {
    import spark.implicits._
    val pairs = Seq(Seq.empty[(Long, Long)], Seq((5L, 7L)))
    for (p <- pairs) {
      val ab = p.toDF("a_id", "b_id")
      val expect = if (p.isEmpty) Set.empty[(Long, Long)] else Set((5L, 5L), (7L, 5L))
      val cc = Curation.componentLabels(ab)
      assert(cc.columns.toSeq == Seq("id", "lbl"))
      assert(rows(cc) == expect)
      val star = Curation.componentLabelsStar(ab)
      assert(star.columns.toSeq == Seq("id", "lbl"))
      assert(rows(star) == expect)

      val bfs = Graph.bfsDistanceOn(p.toDF("a", "b"))
      assert(bfs.columns.toSeq == Seq("node", "dist"))
      assert(rows(bfs) == (if (p.isEmpty) Set.empty else Set((5L, 0L), (7L, 1L))))

      // both directions, as the undirected graph stores them
      val uv = (p ++ p.map(_.swap)).toDF("u", "v")
      for (k <- Seq(1L, Graph.KCoreK)) {
        val core = Graph.kcoreOn(uv, k)
        assert(core.columns.toSeq == Seq("node_id", "kind", "core_degree"))
        val got = core.collect().map(r => r.getLong(0) -> r.getLong(2)).toSet
        assert(got == (if (p.isEmpty || k > 1) Set.empty else Set(5L -> 1L, 7L -> 1L)))
      }
    }
  }
}
