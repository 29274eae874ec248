package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, EqualTo}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JOIN
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Foreign-key join elimination over [[Tables.foreignKeys]]. Under a
  * declared key every row of the referencing table matches exactly one
  * row of the referenced table, so an inner join along the key neither
  * drops nor duplicates rows: when nothing above it reads a column of
  * the referenced side, the join is its referencing side. `Tables.sales`
  * joins orders only to attach `customer_id`, and the `customers` and
  * `stores` views join nation only for `country`; parquet carries no
  * key metadata, so Catalyst cannot prove this by itself.
  *
  * A `Project` or `Aggregate` directly over `Join(Inner, fk = pk)` loses
  * the join when
  *   - the parent reads no column of the referenced side;
  *   - the `fk` attribute is the referencing table's own scan attribute,
  *     reached through `Project`s and `Filter`s only (a filter drops
  *     rows but never changes a key, a column name alone proves nothing);
  *   - the referenced side is attribute projections over the scan of the
  *     referenced table in the same dir: a filter there (a pushed
  *     `customer_id` predicate) removes rows, so it keeps the join.
  * Injected by [[graft.GraftExtensions]] into the operator-optimization
  * batch, which runs before filter inference adds `isnotnull` filters
  * to both sides.
  */
object FkJoinElimination extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(JOIN)) {
      case p @ (_: Project | _: Aggregate) if p.children.head.isInstanceOf[Join] =>
        referencingSide(p.children.head.asInstanceOf[Join], p.references)
          .fold(p)(side => p.withNewChildren(Seq(side)))
    }

  private def referencingSide(j: Join, read: AttributeSet): Option[LogicalPlan] =
    j match {
      case Join(l, r, Inner, Some(EqualTo(a: Attribute, b: Attribute)), _) =>
        def keyed(fk: LogicalPlan, fa: Attribute, pk: LogicalPlan, pa: Attribute) =
          fk.outputSet.contains(fa) && pk.outputSet.contains(pa) &&
            !pk.outputSet.exists(read.contains) &&
            ((scan(fk, fa, referenced = false), scan(pk, pa, referenced = true)) match {
              case (Some((dir, t, c)), Some((pkDir, pt, pc))) => dir == pkDir &&
                Tables.foreignKeys.contains(Tables.ForeignKey(t, c, pt, pc))
              case _ => false
            })
        Seq((l, a, r, b), (l, b, r, a), (r, a, l, b), (r, b, l, a))
          .collectFirst { case (fk, fa, pk, pa) if keyed(fk, fa, pk, pa) => fk }
      case _ => None
    }

  /** (dir, table, column) of the source scan whose own attribute `key`
    * is, through `Project`s and `Filter`s, or through attribute-only
    * `Project`s on the `referenced` side. */
  private def scan(p: LogicalPlan, key: Attribute,
      referenced: Boolean): Option[(String, String, String)] = p match {
    case Project(list, child) if !referenced || list.forall(_.isInstanceOf[Attribute]) =>
      scan(child, key, referenced)
    case Filter(_, child) if !referenced => scan(child, key, referenced)
    case rel: LogicalRelation => (rel.relation, rel.output.find(_.exprId == key.exprId)) match {
      case (fs: HadoopFsRelation, Some(attr)) => fs.location.rootPaths match {
        case Seq(path) if path.getName.endsWith(".parquet") =>
          Some((path.getParent.toString, path.getName.stripSuffix(".parquet"), attr.name))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }
}
