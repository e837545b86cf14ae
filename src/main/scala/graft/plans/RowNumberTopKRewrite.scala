package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the standard grouped-top-k idiom
  *
  * {{{
  *   Project [cols w/o rn]
  *     Filter rn <= k
  *       Window [row_number() PARTITION BY keys ORDER BY ord AS rn]
  * }}}
  *
  * into [[TopKPerKey]], replacing the window's full per-group sort with the
  * bounded-heap operator. Fires only when:
  *   - the window computes exactly one expression, and it is `row_number()`;
  *   - the filter is `rn <= k` / `rn < k` with an integer literal;
  *   - the enclosing projection drops `rn` (so no consumer needs the rank
  *     itself, only membership in the top k).
  *
  * Tie behavior at rank k is implementation-defined in BOTH forms unless the
  * order is total — the rewrite preserves that contract, not any particular
  * tie choice. Installed per session by [[TopKPerKey.install]] (into
  * `spark.experimental.extraOptimizations`, with the strategy in
  * `extraStrategies`).
  */
object RowNumberTopKRewrite extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rn =>
      Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rn =>
      Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, _), a: AttributeReference) if a.exprId == rn =>
      Some(k)
    case GreaterThan(Literal(k: Int, _), a: AttributeReference) if a.exprId == rn =>
      Some(k - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond, w @ Window(Seq(alias @ Alias(
          WindowExpression(RowNumber(), _), _)), _, _, _, _)))
        if limitOf(cond, alias.exprId).exists(_ > 0) &&
          !projectList.exists(_.references.exists(_.exprId == alias.exprId)) &&
          projectList.forall(_.references.subsetOf(w.child.outputSet)) =>
      val k = limitOf(cond, alias.exprId).get
      // Spark's own InferWindowGroupLimit may already have inserted a
      // WindowGroupLimit below the window; TopKPerKey subsumes it (and its
      // sort requirement), so strip it rather than limit twice — but ONLY
      // when it is the one inferred from THIS window (same partition/order,
      // row_number rank, limit ≥ k). An unrelated or stricter group limit
      // stays in place.
      val child = w.child match {
        case wgl: WindowGroupLimit
            if wgl.limit >= k &&
              wgl.rankLikeFunction.isInstanceOf[RowNumber] &&
              wgl.partitionSpec.length == w.partitionSpec.length &&
              wgl.partitionSpec.zip(w.partitionSpec).forall {
                case (a, b) => a.semanticEquals(b) } &&
              wgl.orderSpec.length == w.orderSpec.length &&
              wgl.orderSpec.zip(w.orderSpec).forall {
                case (a, b) => a.semanticEquals(b) } =>
          wgl.child
        case other => other
      }
      Project(projectList, TopKPerKey(w.partitionSpec, w.orderSpec, k, child))
  }
}
