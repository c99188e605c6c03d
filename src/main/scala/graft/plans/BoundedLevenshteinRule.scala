package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Catalyst optimizer rule for entity-resolution verify predicates:
  * rewrites an UNBOUNDED edit-distance comparison
  *
  * {{{ levenshtein(a, b) <= k }}}
  *
  * into the equivalent
  *
  * {{{ abs(length(a) - length(b)) <= k AND levenshtein(a, b, k) >= 0 }}}
  *
  * Two wins, both semantics-preserving:
  *  - the length pre-filter is O(1) and rejects most candidate pairs
  *    before any DP table is touched (|len(a) − len(b)| is a lower bound
  *    on edit distance);
  *  - Spark's THRESHOLDED levenshtein runs the banded O(k·n) algorithm
  *    with early exit (returns −1 when the distance exceeds k, hence the
  *    `>= 0` test) instead of the full O(n·m) table.
  *
  * Null semantics are unchanged (every rewritten operand null-propagates
  * exactly like the original). The rewrite is self-stabilizing: the output
  * pattern carries a threshold, so the rule never matches its own result —
  * safe under the optimizer's fixed-point batches.
  *
  * Applies to predicates anywhere in the plan (Filter AND Join conditions —
  * a pushed-down ER verify lands in either). Part of the [[graft.Graft]]
  * catalog, so every graft session runs it.
  */
object BoundedLevenshteinRule extends Rule[LogicalPlan] {

  private def bounded(a: Expression, b: Expression, k: Expression): Expression =
    And(
      LessThanOrEqual(Abs(Subtract(Length(a), Length(b))), k),
      GreaterThanOrEqual(new Levenshtein(a, b, k), Literal(0)))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case LessThanOrEqual(Levenshtein(a, b, None), k @ Literal(_, IntegerType)) =>
        bounded(a, b, k)
      case GreaterThanOrEqual(k @ Literal(_, IntegerType), Levenshtein(a, b, None)) =>
        bounded(a, b, k)
      // strict bound: lev < k ≡ lev <= k−1 (k ≥ 1; k ≤ 0 is constant-folded
      // false upstream since levenshtein is non-negative)
      case LessThan(Levenshtein(a, b, None), Literal(k: Int, IntegerType)) if k >= 1 =>
        bounded(a, b, Literal(k - 1))
      case GreaterThan(Literal(k: Int, IntegerType), Levenshtein(a, b, None)) if k >= 1 =>
        bounded(a, b, Literal(k - 1))
    }
}
