package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Rewrites the DataFrame top-k idiom —
  *
  *   `row_number().over(partitionBy(keys).orderBy(order)) <= k`
  *   filtered and then DROPPED from the output
  *
  * — into [[TopKPerKeyPlan]], the two-phase bounded-heap operator
  * (partial pre-shuffle top-k per key, exchange, final merge). The
  * window formulation shuffles every input row and sorts every key
  * group; the rewrite shuffles at most k rows per (partition, key) and
  * never sorts. Spark's own `InferWindowGroupLimit` (3.5+) prunes to
  * rank ≤ k around the sort but keeps the WindowExec sort-and-rank
  * machinery; this rule removes it entirely when the rank column
  * itself is not needed.
  *
  * Measured regimes (the `graft.TopKBench` dev main, last held in
  * commit cd62d4a: 10M synthetic rows, local[32], round 6 — honest
  * numbers with this rule EXCLUDED from the window side): the
  * heap operator wins when the per-key reduction is real — 7× at 100
  * keys, 2× at 10k keys (the sort the native path still pays
  * dominates) — and the native WindowGroupLimit path wins ~1.8× from
  * ~100k keys up (k=5; n/keys small leaves little to reduce and
  * Tungsten's radix sort beats per-row hash-map upkeep; the k=1 dedup
  * staple is within ~1.5× either way). The rewrite therefore pays off
  * when top-k is used as a REDUCTION over hot keys (per-user/
  * per-station reporting — this engine's q46/q11 shapes) and trades a
  * bounded constant at near-unique-key rank limiting, where it keeps
  * the no-sort bounded-memory profile; to prefer the sort-based native
  * path there, disable it per-query with
  * `spark.sql.optimizer.excludedRules=graft.plans.RewriteWindowTopK`.
  *
  * Fires only when ALL of:
  *  - the Window computes exactly one expression: `row_number()` over
  *    nonempty partition keys with a nonempty order;
  *  - the Filter above bounds that row number by a positive literal
  *    (`rn <= k`, `rn < k+1`, or the dedup staple `rn = 1`), possibly
  *    AND-ed with residual predicates not referencing `rn`;
  *  - the Project above drops the rank column (if the caller wants rank
  *    VALUES, the window must stay).
  *
  * Row_number resolves ties arbitrarily unless the order is total —
  * the rewrite preserves exactly that contract (bounded heap, same
  * arbitrary tie resolution), documented on [[TopKPerKeyPlan]].
  */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(projList,
        Filter(cond, w @ Window(Seq(alias @ Alias(
          WindowExpression(_: RowNumber, WindowSpecDefinition(parts, order, _)),
          _)), _, _, child, _)))
        if parts.nonEmpty && order.nonEmpty =>
      val rn = alias.toAttribute
      val usesRn = projList.exists(_.references.contains(rn))
      if (usesRn) p
      else {
        val conjuncts = splitConjuncts(cond)
        val (rnConds, residual) = conjuncts.partition(_.references.contains(rn))
        boundOf(rnConds, rn) match {
          case Some(k) if k >= 1 =>
            val topk = TopKPerKeyPlan(parts, order, k, child)
            Project(projList,
              residual.reduceOption(And).map(Filter(_, topk)).getOrElse(topk))
          case _ => p
        }
      }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** The k bound when EVERY rn-referencing conjunct is a supported
    * bound (otherwise the rank participates in logic we must not drop);
    * combined bounds take the tightest.
    */
  private def boundOf(rnConds: Seq[Expression],
      rn: Attribute): Option[Int] = {
    if (rnConds.isEmpty) return None
    val bounds = rnConds.map(boundOfOne(_, rn))
    if (bounds.exists(_.isEmpty)) None else Some(bounds.flatten.min)
  }

  /** `rn` may arrive wrapped in a widening cast (`rn <= 2L`). */
  private def isRn(e: Expression, rn: Attribute): Boolean = e match {
    case a: Attribute => a.semanticEquals(rn)
    case Cast(a: Attribute, LongType, _, _) => a.semanticEquals(rn)
    case _ => false
  }

  private def intOf(l: Literal): Option[Long] = l match {
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case _ => None
  }

  private def boundOfOne(e: Expression, rn: Attribute): Option[Int] =
    (e match {
      case LessThanOrEqual(l, lit: Literal) if isRn(l, rn) => intOf(lit)
      case LessThan(l, lit: Literal) if isRn(l, rn) => intOf(lit).map(_ - 1)
      case GreaterThanOrEqual(lit: Literal, r) if isRn(r, rn) => intOf(lit)
      case GreaterThan(lit: Literal, r) if isRn(r, rn) => intOf(lit).map(_ - 1)
      case EqualTo(l, lit: Literal) if isRn(l, rn) =>
        intOf(lit).filter(_ == 1L)
      case EqualTo(lit: Literal, r) if isRn(r, rn) =>
        intOf(lit).filter(_ == 1L)
      case _ => None
    }).filter(k => k >= 1 && k <= Int.MaxValue).map(_.toInt)
}
