package graft.operators

import org.apache.spark.sql.DataFrame

/** The one driver of the loops that run until their state stops
  * changing ([[Curation.componentLabels]], [[Curation.componentLabelsStar]],
  * [[Graph.bfsDistanceOn]], [[Graph.kcoreOn]]): bounded recurrences with
  * an absorbing fixpoint, which their oracles replay as recursive CTEs
  * or unrolled rounds. Each one's contract is a budget and a signature. */
object Rounds {

  /** Runs `step(state, round)` (`round` 0-based) from `init` and returns
    * the last state. Every state, `init` included, is `localCheckpoint`ed
    * once and its `signature` read once; the loop stops after the first
    * round whose signature equals the previous state's, or after
    * `budget` rounds. The signature must be exact (equal only for an
    * unchanged state) or state its false-stop odds: a false stop
    * returns a wrong answer, not a slow one. */
  def fixpoint[S](init: DataFrame, budget: Int)(signature: DataFrame => S)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    @annotation.tailrec
    def go(state: DataFrame, sig: S, round: Int): DataFrame =
      if (round >= budget) state
      else {
        val next = step(state, round).localCheckpoint()
        val s = signature(next)
        if (s == sig) next else go(next, s, round + 1)
      }
    val start = init.localCheckpoint()
    go(start, signature(start), 0)
  }

  /** A state's row count in one Spark job: `Dataset.count` plans a
    * global aggregate, which AQE runs as two. */
  def rowCount(state: DataFrame): Long = state.rdd.count()
}
