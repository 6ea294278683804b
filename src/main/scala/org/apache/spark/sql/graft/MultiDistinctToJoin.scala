package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite a GLOBAL aggregate containing COUNT
  * (DISTINCT x) over two or more DIFFERENT columns into a cross join
  * of independent single-column aggregates.
  *
  * Spark plans multi-group distinct aggregates through an Expand that
  * replicates EVERY input row once per distinct group — at 100 TB
  * that multiplies the first shuffle by the number of groups. Each
  * rewritten branch instead scans one (column-pruned) input and
  * shuffles only its own distinct values; the final cross join glues
  * 1-row results. Measured ~4-6x on the corpus (q9_distinct_counts,
  * approx_distinct shapes).
  *
  * Deliberately conservative — fires only when:
  *  - the aggregate is global (no grouping keys);
  *  - every output is either COUNT(DISTINCT attr) on a bare column
  *    or a distinct-free aggregate with no FILTER clause;
  *  - at least two DISTINCT counts target different columns (the
  *    Expand trigger; one group needs no rewrite).
  *
  * Injected via [[graft.functions.GraftExtensions]]
  * (injectOptimizerRule) — the Rule[LogicalPlan] extension point — on
  * every session [[graft.ExecMode.session]] builds.
  */
object MultiDistinctToJoin extends Rule[LogicalPlan] {

  private case class DistinctCount(alias: Alias, attr: AttributeReference)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      val classified = aggExprs.map(classify)
      val distincts = classified.collect { case Some(Left(d)) => d }
      val plainOk = classified.forall(_.isDefined)
      if (!plainOk || distincts.map(_.attr.exprId).distinct.size < 2) agg
      else rewrite(aggExprs, classified.map(_.get), child)
  }

  /** Left = COUNT(DISTINCT attr); Right = safe distinct-free alias. */
  private def classify(e: NamedExpression): Option[Either[DistinctCount, Alias]] =
    e match {
      case a @ Alias(AggregateExpression(Count(Seq(attr: AttributeReference)),
          _, true, None, _), _) =>
        Some(Left(DistinctCount(a, attr)))
      case a: Alias =>
        val aggs = a.collect { case ae: AggregateExpression => ae }
        if (aggs.nonEmpty && aggs.forall(ae => !ae.isDistinct && ae.filter.isEmpty))
          Some(Right(a))
        else None
      case _ => None
    }

  private def rewrite(aggExprs: Seq[NamedExpression],
      parts: Seq[Either[DistinctCount, Alias]], child: LogicalPlan): LogicalPlan = {
    // one branch per distinct-counted column: distinct via groupBy,
    // then COUNT(attr) (skips the NULL group, matching COUNT DISTINCT)
    val distinctAttrs = parts.collect { case Left(d) => d.attr.exprId }.distinct
    val branchFor = distinctAttrs.map { id =>
      val attr = parts.collectFirst { case Left(d) if d.attr.exprId == id => d.attr }.get
      val grouped = Aggregate(Seq(attr), Seq(attr), child)
      val cnt = Alias(Count(Seq(attr)).toAggregateExpression(), s"__dc_${attr.name}")()
      id -> Aggregate(Nil, Seq(cnt), grouped)
    }.toMap
    // one branch for all the distinct-free aggregates together
    val plains = parts.collect { case Right(a) => a }
    val plainBranch =
      if (plains.isEmpty) None
      else Some(Aggregate(Nil, plains, child))
    val branches = distinctAttrs.map(branchFor) ++ plainBranch.toSeq
    val joined = branches.reduceLeft[LogicalPlan]((l, r) =>
      Join(l, r, Cross, None, JoinHint.NONE))
    // restore the original output names, order, AND exprIds
    val out = aggExprs.zip(parts).map {
      case (orig, Left(d)) =>
        val branchOut = branchFor(d.attr.exprId).aggregateExpressions.head.toAttribute
        Alias(branchOut, orig.name)(exprId = orig.exprId)
      case (orig, Right(_)) => orig.toAttribute.asInstanceOf[NamedExpression]
    }
    Project(out, joined)
  }
}
