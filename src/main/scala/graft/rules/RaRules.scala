package graft.rules

import org.apache.spark.sql.catalyst.expressions.{And, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** The reference optimizer's four heuristic rewrites (reference
  * `raopt/raopt.py:7-306`), re-expressed as Catalyst `Rule[LogicalPlan]`s.
  *
  * Stock Catalyst already subsumes all four (SURVEY §4.1: R1/R3 ≈
  * `CombineFilters`' fixed point, R2 ≈ `PushDownPredicates`, R4 ≈
  * predicate pushdown + `ExtractEquiJoinKeys` during planning), so these
  * rules are PEDAGOGICAL PARITY artifacts: they demonstrate the thesis's
  * optimization pipeline on Catalyst IR, are unit-tested against the same
  * plan shapes as the reference's `tests/test_raopt.py`, and — when
  * injected via `SparkSessionExtensions.injectOptimizerRule` — reach the
  * same fixed point as Catalyst's own batches: over the 298 contract
  * queries they fire on three plans only (R3 on q63/q74, R4 on q87), a
  * step ahead of the stock rule doing the same rewrite, and the optimized
  * plans equal Catalyst's alone up to R4's Inner label on a conditioned
  * Cross join. RaParitySpec proves that subsumption on the reference's
  * own query forms and pins those three firings.
  */
object RaRules {

  /** R1 `rule_break_up_selections` (reference `raopt/raopt.py:7-34`):
    * σ_{a∧b}(E) → σ_a(σ_b(E)). The stepping-stone form pushdown operates
    * on. (Catalyst instead keeps conjunctions together and splits inside
    * PushDownPredicates — same fixed point.)
    */
  object BreakUpSelections extends Rule[LogicalPlan] with PredicateHelper {
    def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      case Filter(And(a, b), child) => Filter(a, Filter(b, child))
    }
  }

  /** R3 `rule_merge_selections` (reference `raopt/raopt.py:176-200`):
    * σ_a(σ_b(E)) → σ_{a∧b}(E) — Catalyst's `CombineFilters`. */
  object MergeSelections extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
      // determinism guard (as in Catalyst's CombineFilters): merging past
      // a nondeterministic filter would change how many rows the
      // nondeterministic predicate evaluates over
      case Filter(a, Filter(b, child)) if a.deterministic && b.deterministic =>
        Filter(And(b, a), child)
    }
  }

  /** R2 `rule_push_down_selections` (reference `raopt/raopt.py:90-173`):
    * push σ through ×/⨝ to the smallest subtree containing every
    * referenced attribute. The reference needs its external data
    * dictionary to decide attribute ownership; Catalyst's resolved
    * attribute ids make it a one-line subset test.
    */
  object PushDownSelections extends Rule[LogicalPlan] with PredicateHelper {

    /** Collect a maximal σ-chain (R1 leaves stacks of single-conjunct
      * filters; the reference's pushdown walks through them the same way,
      * `raopt.py:97-146`).
      *
      * Collection STOPS at the first filter containing any
      * nondeterministic conjunct — pushing a deterministic predicate from
      * above a `rand()`-style filter below it would change the row set the
      * nondeterministic predicate evaluates over (Catalyst's
      * PushDownPredicates guards identically). Filters BELOW the
      * nondeterministic one still get their own `transform` match and are
      * pushed independently.
      */
    private def collectFilters(p: LogicalPlan): (Seq[Expression], LogicalPlan) =
      p match {
        case Filter(c, child)
            if splitConjunctivePredicates(c).forall(_.deterministic) =>
          val (cs, base) = collectFilters(child)
          (splitConjunctivePredicates(c) ++ cs, base)
        case other => (Nil, other)
      }

    def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      case f @ Filter(_, _) =>
        val (conds, base) = collectFilters(f)
        base match {
          case j @ Join(left, right, Cross | Inner, _, _) =>
            val (pushable, rest) = conds.partition(
              p => p.deterministic &&
                (p.references.subsetOf(left.outputSet) ||
                  p.references.subsetOf(right.outputSet)))
            if (pushable.isEmpty) f
            else {
              val (toLeft, toRight) =
                pushable.partition(_.references.subsetOf(left.outputSet))
              val newLeft =
                toLeft.reduceOption(And).map(Filter(_, left)).getOrElse(left)
              val newRight =
                toRight.reduceOption(And).map(Filter(_, right)).getOrElse(right)
              val newJoin = j.copy(left = newLeft, right = newRight)
              rest.reduceOption(And).map(Filter(_, newJoin)).getOrElse(newJoin)
            }
          case _ => f
        }
    }
  }

  /** R4 `rule_introduce_joins` (reference `raopt/raopt.py:274-306`):
    * σ over × becomes ⨝ when conjuncts reference both sides — the rewrite
    * the reference REQUIRES for multi-table queries (its executors raise
    * on Cross, `ra2mr/ra2mr.py:127-129`). Residual single-side conjuncts
    * stay as a σ on top, exactly like the reference (`raopt.py:280-288`).
    */
  object IntroduceJoins extends Rule[LogicalPlan] with PredicateHelper {
    def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      case f @ Filter(cond, Join(left, right, Cross, None, hint)) =>
        val (joinConds, rest) = splitConjunctivePredicates(cond).partition(
          p => p.deterministic &&
            p.references.intersect(left.outputSet).nonEmpty &&
            p.references.intersect(right.outputSet).nonEmpty &&
            p.references.subsetOf(left.outputSet ++ right.outputSet))
        joinConds.reduceOption(And) match {
          case None => f
          case Some(jc) =>
            val join = Join(left, right, Inner, Some(jc), hint)
            rest.reduceOption(And).map(Filter(_, join)).getOrElse(join)
        }
    }
  }

  /** The reference's fixed application order (`ra2mr/ra2mr.py:322-326`). */
  val pipeline: Seq[Rule[LogicalPlan]] =
    Seq(BreakUpSelections, PushDownSelections, MergeSelections, IntroduceJoins)

  /** Apply the full R1→R4 pipeline once, reference-style. */
  def optimize(plan: LogicalPlan): LogicalPlan =
    pipeline.foldLeft(plan)((p, r) => r(p))
}
