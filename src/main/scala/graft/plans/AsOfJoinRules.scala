package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeMap, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Predicate pushdown through [[AsOfJoinPlan]].
  *
  * Catalyst's PushDownPredicates cannot see through an unknown binary
  * node, so `filter(key = x)` above an as-of join would otherwise run
  * AFTER both sides are shuffled, sorted and merged. Because the as-of
  * join is an equi-join on its keys, any conjunct that references only
  * left KEY attributes holds for the matching right rows too: the rule
  * copies it below both children (rewritten to the right side's key
  * attributes), where normal Catalyst pushdown carries it into the
  * parquet scans. The conjunct is kept on one child, removed from the
  * parent — rows are filtered once per side, before the exchange.
  *
  * Conjuncts referencing non-key columns stay above the join (a left
  * payload predicate must not drop right rows that later rows still
  * match... and vice versa), so the rule is conservative: keys only.
  */
object AsOfJoinKeyPushdown extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val leftToRight = AttributeMap(j.leftKeys.zip(j.rightKeys))
      val conjuncts = splitConjunctivePredicates(cond)
      val (pushable, kept) = conjuncts.partition { c =>
        c.deterministic &&
          c.references.nonEmpty &&
          c.references.forall(a => leftToRight.contains(a))
      }
      if (pushable.isEmpty) f
      else {
        val leftCond = pushable.reduce(And)
        val rightCond = leftCond.transform {
          case a: Attribute => leftToRight(a)
        }
        val pushed = j.copy(
          left = Filter(leftCond, j.left),
          right = Filter(rightCond, j.right))
        if (kept.isEmpty) pushed
        else Filter(kept.reduce(And), pushed)
      }
  }
}
