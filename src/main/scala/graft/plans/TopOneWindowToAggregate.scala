package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.MinBy
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: top-1-per-group window patterns become aggregates.
  *
  * `row_number() OVER (PARTITION BY p ORDER BY s) rn ... WHERE rn = 1` is
  * the universal "keep the first row per key" idiom, and Spark plans it as
  * a full shuffle + sort of EVERY row, then discards all but one row per
  * key. The equivalent `min_by(struct(*), struct(s))` aggregation
  * partial-aggregates map-side: at 100 TB the shuffle carries one row per
  * (mapper, key) instead of every row — often orders of magnitude less.
  *
  * Rewrite (only when provably equivalent):
  *   Filter(rn = 1, Project(proj, Window([row_number() as rn], p, s, child)))
  *     ⇒ Project(proj[rn ↦ 1],
  *         Project(child.output ↦ _row.*,          // original exprIds kept
  *           Aggregate(p, [min_by(struct(child.output), struct(s))], child)))
  *
  * Guards: single window expression, plain row_number, all sort orders
  * Ascending/NullsFirst (struct ordering matches), filter is `rn = 1` /
  * `1 = rn` / `rn <= 1`. Tie behavior: both forms return an arbitrary
  * minimal row when `s` is not a total order — same determinism contract.
  *
  * Installed on every session by [[graft.GraftExtensions]]; turn it off
  * for one query with `spark.sql.optimizer.excludedRules`.
  */
object TopOneWindowToAggregate extends Rule[LogicalPlan] {

  private def isRowNumber(e: NamedExpression): Option[(Attribute, Seq[Expression], Seq[SortOrder])] =
    e match {
      case a @ Alias(WindowExpression(_: RowNumber,
          WindowSpecDefinition(part, order, _)), _) =>
        Some((a.toAttribute, part, order))
      case _ => None
    }

  private def filtersToOne(cond: Expression, rn: Attribute): Boolean = cond match {
    case EqualTo(a: Attribute, Literal(1, _)) => a.semanticEquals(rn)
    case EqualTo(Literal(1, _), a: Attribute) => a.semanticEquals(rn)
    case LessThanOrEqual(a: Attribute, Literal(1, _)) => a.semanticEquals(rn)
    case _ => false
  }

  private def ascendingNullsFirst(order: Seq[SortOrder]): Boolean =
    order.nonEmpty && order.forall(o => o.direction == Ascending && o.nullOrdering == NullsFirst)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(cond,
        Project(projList, Window(Seq(winExpr), part, order, child, _)))
        if isRowNumber(winExpr).exists { case (rn, p, o) =>
          filtersToOne(cond, rn) && p == part && o == order } &&
          ascendingNullsFirst(order) && part.nonEmpty =>
      val rnAttr = isRowNumber(winExpr).get._1
      rewrite(projList, rnAttr, part, order, child)

    case Filter(cond, w @ Window(Seq(winExpr), part, order, child, _))
        if isRowNumber(winExpr).exists { case (rn, p, o) =>
          filtersToOne(cond, rn) && p == part && o == order } &&
          ascendingNullsFirst(order) && part.nonEmpty =>
      val rnAttr = isRowNumber(winExpr).get._1
      rewrite(w.output, rnAttr, part, order, child)
  }

  private def rewrite(projList: Seq[NamedExpression], rnAttr: Attribute,
      part: Seq[Expression], order: Seq[SortOrder], child: LogicalPlan): LogicalPlan = {
    val rowStruct = CreateStruct(child.output)
    val keyStruct = CreateStruct(order.map(_.child))
    val minByAlias = Alias(MinBy(rowStruct, keyStruct).toAggregateExpression(), "_graft_top1")()
    val agg = Aggregate(part, Seq(minByAlias), child)
    // restore the child's attributes (same exprIds) from the struct
    val restore = child.output.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(minByAlias.toAttribute, i, Some(a.name)), a.name)(exprId = a.exprId)
    }
    val restored = Project(restore, agg)
    // original projection with rn replaced by the literal 1 it must equal
    val newProj = projList.map { ne =>
      ne.transform {
        case a: Attribute if a.semanticEquals(rnAttr) => Literal(1)
      } match {
        case a: Alias => a
        case a: Attribute => a
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }.map(_.asInstanceOf[NamedExpression])
    Project(newProj, restored)
  }
}
