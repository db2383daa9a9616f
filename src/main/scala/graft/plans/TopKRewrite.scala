package graft.plans

import graft.plans.TopKPerKey.TopKPerKeyNode
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, EqualTo, Expression, IntegerLiteral, LessThan, LessThanOrEqual, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (the third Catalyst extension face, after the
  * expressions and the strategy): rewrite the ubiquitous
  *
  *   Project(cols without rn,
  *     Filter(rn <= k,
  *       Window(rn = row_number() over (partition by keys order by o), ...)))
  *
  * — the reference's own latest-per-key idiom (W1,
  * flows/pipeline.py:189-203) and our r5/x26 — into [[TopKPerKeyNode]], so
  * EXISTING window-form queries pick up the partial-fold plan (map-side
  * k-heaps, winners-only shuffle) without being rewritten by hand. Fires
  * only when:
  *
  *   - the Window computes exactly ONE expression and it is row_number()
  *     (rank/dense_rank tie semantics differ — never rewritten);
  *   - the Filter is exactly `rn <= k` / `rn < k` / `rn = 1` with literal
  *     k (a compound condition may be half-pushed — left alone);
  *   - the Project above discards rn (someone consuming rank VALUES needs
  *     the window, not a top-k);
  *   - the window has a non-empty ORDER BY (row_number without order is
  *     arbitrary — nothing meaningful to fold).
  *
  * OPT-IN via `spark.graft.topk.rewrite=true`: the operator's map-side
  * state is O(keys-per-partition × k) (TopKPerKey's documented memory
  * contract), which a blanket rewrite cannot know is safe — the flag is
  * the caller asserting key cardinality fits. Determinism caveat is
  * unchanged from row_number itself: ties in the ordering make BOTH forms
  * nondeterministic; a unique tie-break column makes both exact.
  *
  * Injected with `injectOptimizerRule`, so it runs in the operator-
  * optimization batches, before the built-in "Infer window group limit"
  * batch: the Window it matches has no WindowGroupLimit below it yet, and
  * once rewritten there is no Window left for that batch to cap.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  private def limit(cond: Expression, rn: Attribute): Option[Int] = cond match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn) => Some(k)
    case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rn)        => Some(k - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn)         => Some(1)
    case EqualTo(IntegerLiteral(1), a: Attribute) if a.semanticEquals(rn)         => Some(1)
    case _                                                                        => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.topk.rewrite", "false").toBoolean) plan
    else plan.transformUp {
      case Project(projectList,
          Filter(cond, Window(Seq(al @ Alias(we: WindowExpression, _)), part, order, wchild, _)))
        if we.windowFunction.isInstanceOf[RowNumber] && order.nonEmpty &&
          limit(cond, al.toAttribute).exists(_ > 0) &&
          !projectList.exists(_.references.contains(al.toAttribute)) =>
        val k = limit(cond, al.toAttribute).get
        Project(projectList, TopKPerKeyNode(part, order, k, wchild))
    }
}
