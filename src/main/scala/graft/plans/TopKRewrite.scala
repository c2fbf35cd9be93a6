package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  EqualTo, Expression, IntegerLiteral, LessThan, LessThanOrEqual, NamedExpression,
  RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the idiomatic top-n-per-group pattern
  *
  *   df.withColumn("rn", row_number().over(partitionBy(g).orderBy(o)))
  *     .where($"rn" <= k)
  *
  * — which plans as WindowExec, a FULL SORT of every group — into the
  * [[GroupedTopK]] bounded-heap operator (partial heaps map-side, ≤ k rows
  * per group shuffled). Results are identical: row_number over a total order
  * is exactly GroupedTopK's rank.
  *
  * Deliberately conservative; the rewrite fires only when
  *   - the Window computes a single row_number() window expression,
  *   - the filter is `rn <= k`, `rn < k`, or `rn = 1` on an integer literal
  *     (possibly AND-ed with other predicates, which are kept), and
  *   - the window has partition and order specs (a global row_number is
  *     TakeOrderedAndProject's job, not ours).
  *
  * Registered via [[graft.functions.GraftExtensions]]
  * (injectOptimizerRule) or `SparkShim.addOptimization` on a live session.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  /** filter condition → (k, residual predicates) when it bounds `rank`. */
  private def boundOf(cond: Expression, rank: Attribute)
      : Option[(Int, Seq[Expression])] = cond match {
    case LessThanOrEqual(r: Attribute, IntegerLiteral(k)) if r.semanticEquals(rank) =>
      Some((k, Nil))
    case LessThan(r: Attribute, IntegerLiteral(k)) if r.semanticEquals(rank) =>
      Some((k - 1, Nil))
    case EqualTo(r: Attribute, IntegerLiteral(1)) if r.semanticEquals(rank) =>
      Some((1, Seq(cond))) // keep rn = 1 so the rank column still filters
    case And(l, r) =>
      boundOf(l, rank).map { case (k, rest) => (k, rest :+ r) }
        .orElse(boundOf(r, rank).map { case (k, rest) => (k, rest :+ l) })
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        Window(Seq(a @ Alias(WindowExpression(_: RowNumber, _), _)),
          partitionSpec, orderSpec, child, _))
        if partitionSpec.nonEmpty && orderSpec.nonEmpty =>
      boundOf(cond, a.toAttribute) match {
        case Some((k, residual)) if k >= 1 =>
          // Spark's InferWindowGroupLimit may already have slid a (sort-based)
          // WindowGroupLimit under the Window for this same filter; the heap
          // operator subsumes it, so unwrap rather than double-limit. Only
          // unwrap a limit that provably belongs to THIS window — same
          // partition/order specs and a row_number rank — anything else keeps
          // its semantics.
          val inner = child match {
            case wgl: WindowGroupLimit if wgl.limit >= k &&
                wgl.rankLikeFunction.isInstanceOf[RowNumber] &&
                wgl.partitionSpec.length == partitionSpec.length &&
                wgl.partitionSpec.zip(partitionSpec)
                  .forall { case (x, y) => x.semanticEquals(y) } &&
                wgl.orderSpec.length == orderSpec.length &&
                wgl.orderSpec.zip(orderSpec)
                  .forall { case (x, y) => x.semanticEquals(y) } =>
              wgl.child
            case other => other
          }
          val topk = GroupedTopK(partitionSpec, orderSpec, k, inner)
          // re-expose the heap rank under the window alias' exprId so
          // downstream references keep resolving
          val renamed: Seq[NamedExpression] = child.output :+
            Alias(topk.rankAttr, a.name)(exprId = a.exprId)
          val projected = Project(renamed, topk)
          residual.reduceOption(And).map(Filter(_, projected))
            .getOrElse(projected)
        case _ => f
      }
  }
}
