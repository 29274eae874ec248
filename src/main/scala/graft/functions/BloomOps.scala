package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL-callable wrappers over Spark's own bloom-filter runtime-filter
  * machinery (`BloomFilterAggregate` / `BloomFilterMightContain` — the
  * expressions Catalyst injects for runtime row-group filtering),
  * exposed as registered functions so operators can build an explicit
  * set-membership filter:
  *
  *  - `graft_bloom_agg(xxhash64(key)[, est_items])` — distributed
  *    build: partial filters merge map-side (TypedImperativeAggregate),
  *    the result is ONE binary value.
  *  - `graft_bloom_contains(bloom, xxhash64(key))` — probe; the bloom
  *    argument must be a constant or scalar subquery (Spark's own
  *    contract), which is exactly how [[graft.operators.Dedup]] feeds
  *    it: the aggregate runs once as a scalar subquery and ships to
  *    executors as a literal — never a per-row join.
  *
  * False positives only, never false negatives: a `false` probe is
  * proof of absence, so "definitely new" rows can skip any exact
  * verification entirely.
  */
object BloomOps {

  val aggBuilder: Seq[Expression] => Expression = {
    case Seq(child) => new BloomFilterAggregate(child)
    case Seq(child, est) => new BloomFilterAggregate(child, est)
    case exprs => throw new IllegalArgumentException(
      s"graft_bloom_agg takes (key[, est_items]), got ${exprs.length} args")
  }

  val containsBuilder: Seq[Expression] => Expression = {
    case Seq(bloom, value) => BloomFilterMightContain(bloom, value)
    case exprs => throw new IllegalArgumentException(
      s"graft_bloom_contains takes (bloom, key), got ${exprs.length} args")
  }
}
