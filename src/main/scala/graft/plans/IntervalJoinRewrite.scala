package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite the natural formulation of an interval join
  *
  *   a JOIN b ON a.k = b.k AND abs(a.t - b.t) <= w
  *
  * which Spark would execute as an O(n·m)-per-key nested loop (the range
  * predicate contributes no equi-key), into the bucketed equi-join
  * `operators.IntervalJoin` builds by hand: explode the left side to
  * time-cells {c-1, c, c+1} of width w, add the right side's cell, join
  * on (key, cell) + the original range filter, project the original
  * output. Users keep the natural syntax; the plan becomes a hash join.
  *
  * Fires only on an exact two-conjunct condition (one equality, one
  * abs-range with a positive literal width), so the rewritten join —
  * which carries three conjuncts — never re-fires. The same join
  * written as two one-sided bounds (a.t - b.t <= w AND b.t - a.t <= w)
  * does not match and plans as Spark would without the rule.
  */
object IntervalJoinRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        // exactly two conjuncts, one equality + one abs-range, in either
        // order (the rewritten join carries three conjuncts, so the rule
        // cannot re-fire on its own output)
        splitConjunctivePredicates(cond).sortBy {
          case EqualTo(_, _) => 0
          case _ => 1
        } match {
          case Seq(eq @ EqualTo(_, _),
            range @ LessThanOrEqual(Abs(Subtract(x, y, _), _), Literal(w, t)))
              if isPositiveLong(w, t) && x.dataType == LongType
                && sidesMatch(eq, x, y, left, right) =>
            rewrite(j, left, right, eq, range, x, y, literalLong(w, t), hint)
          case _ => j
        }
    }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(a, b) =>
        splitConjunctivePredicates(a) ++ splitConjunctivePredicates(b)
      case other => Seq(other)
    }

  private def isPositiveLong(w: Any, t: org.apache.spark.sql.types.DataType) =
    t == LongType && w.asInstanceOf[Long] > 0

  private def literalLong(w: Any, t: org.apache.spark.sql.types.DataType): Long =
    w.asInstanceOf[Long]

  /** The equality must be a left/right pair and the range ends must sit on
    * opposite sides, x on the left and y on the right (abs is symmetric,
    * so orientation of the subtraction doesn't matter).
    */
  private def sidesMatch(eq: EqualTo, x: Expression, y: Expression,
      left: LogicalPlan, right: LogicalPlan): Boolean = {
    def onLeft(e: Expression) = e.references.subsetOf(left.outputSet)
    def onRight(e: Expression) = e.references.subsetOf(right.outputSet)
    val eqOk = (onLeft(eq.left) && onRight(eq.right)) ||
      (onLeft(eq.right) && onRight(eq.left))
    eqOk && ((onLeft(x) && onRight(y)) || (onLeft(y) && onRight(x)))
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      eq: EqualTo, range: Expression, x: Expression, y: Expression,
      w: Long, hint: JoinHint): LogicalPlan = {
    val (lt, rt) =
      if (x.references.subsetOf(left.outputSet)) (x, y) else (y, x)
    val wLit = Literal(w, LongType)

    // left: explode to cells {c-1, c, c+1}
    val cellBase = IntegralDivide(lt, wLit)
    val cellArray = CreateArray(Seq(
      Add(cellBase, Literal(-1L, LongType)), cellBase,
      Add(cellBase, Literal(1L, LongType))))
    val cellAttr = AttributeReference("__ij_cell", LongType, nullable = true)()
    val genLeft = Generate(Explode(cellArray), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(cellAttr),
      child = left)

    // right: project the single cell
    val rCellAttr = AttributeReference("__ij_rcell", LongType,
      nullable = true)()
    val projRight = Project(right.output :+
      Alias(IntegralDivide(rt, wLit), "__ij_rcell")(rCellAttr.exprId),
      right)

    val newCond = And(eq, And(EqualTo(cellAttr, rCellAttr), range))
    val joined = Join(genLeft, projRight, Inner, Some(newCond), hint)
    Project(j.output, joined)
  }
}
