package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: the ubiquitous `row_number() OVER (PARTITION BY k
  * ORDER BY o) = 1` / `<= k` dedup-filter pattern — when the rank column
  * itself is projected away — rewrites to the heap-based
  * [[TopKPerKeyNode]] operator. The window form sorts EVERY key group in
  * full to keep k rows; the heap keeps a bounded k-element queue per key
  * (O(n log k), no sort of the other n−k rows). Users keep writing the
  * idiomatic window pattern and silently get the bounded-memory plan —
  * the same contract as [[BandedLevenshteinRule]].
  *
  * Strictly scoped to be semantics-preserving:
  *   - `row_number` ONLY — `rank`/`dense_rank` emit > k rows under ties;
  *   - the rank attribute must NOT survive the enclosing Project (the
  *     heap operator does not produce rank values);
  *   - single window expression, so no other window output is lost.
  * A non-total ORDER BY makes row_number itself nondeterministic, so the
  * heap's tie choice is no worse — same caveat the window form carries.
  *
  * If Spark's own InferWindowGroupLimit already inserted a
  * [[WindowGroupLimit]] below the window, it is kept: it pre-trims each
  * map partition to k rows per key before the exchange — a free partial
  * top-k feeding the heap. */
object FirstRowPerKeyRule extends Rule[LogicalPlan] {

  private def asLimit(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case EqualTo(a: Attribute, Literal(v: Int, _)) if a.exprId == rn && v == 1 => Some(1)
    case EqualTo(Literal(v: Int, _), a: Attribute) if a.exprId == rn && v == 1 => Some(1)
    case LessThanOrEqual(a: Attribute, Literal(v: Int, _)) if a.exprId == rn && v >= 1 => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, _)) if a.exprId == rn && v >= 2 => Some(v - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
        Filter(cond,
          Window(Seq(al @ Alias(WindowExpression(RowNumber(),
              WindowSpecDefinition(part, order, SpecifiedWindowFrame(RowFrame,
                UnboundedPreceding, CurrentRow))), _)), _, _, child, _)))
        if part.nonEmpty &&
          asLimit(cond, al.exprId).isDefined &&
          !projList.exists(_.references.exists(_.exprId == al.exprId)) &&
          projList.forall(_.references.subsetOf(child.outputSet)) =>
      Project(projList,
        TopKPerKeyNode(part, order, asLimit(cond, al.exprId).get, child))
    case p => p
  }
}
