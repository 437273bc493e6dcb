package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite a range join with NO equi key —
  * `A JOIN B ON abs(a.t - b.t) <= w`, or the interval shapes
  * `a.t BETWEEN b.lo AND b.hi` / `b.t - w <= a.t <= b.t` — into the
  * binned equi-join form, automatically.
  *
  * Written naively, that join has no equality predicate, so Spark can
  * only plan a broadcast-nested-loop / cartesian product:
  * O(|A|·|B|) comparisons, dead at scale (see `rj1_range_join_binned`
  * for the hand-built alternative). The rewrite this rule applies is the
  * same one rj1 hand-codes:
  *
  *  - bin both times by width `w` (`t DIV w`),
  *  - explode the RIGHT side into its 3 adjacent bins (range 2w spans at
  *    most 3 w-wide bins, so {bin-1, bin, bin+1} is exhaustive; a given
  *    pair matches in exactly one bin copy, so no dedup is needed),
  *  - equi-join on the bin with the ORIGINAL range predicate kept as a
  *    residual condition, and project the bin columns back out.
  *
  * The planner then extracts the bin equality into a shuffled hash /
  * sort-merge join: per-key fan-in bounded by event density per window,
  * the plan shape a 100 TB interval join needs. Works for INNER and LEFT
  * OUTER joins (left-preservation is unaffected: a left row with no
  * in-range partner matches no bin copy). Long (e.g. epoch-micros)
  * operands only — `unix_micros(ts)` upstream puts timestamps in scope.
  *
  * The INTERVAL shapes (point-in-interval: one side contributes a point
  * `pt`, the other a data-carried interval `[lo, hi]` — which is what
  * `a.t BETWEEN b.lo AND b.hi` and the one-sided band
  * `b.t - w <= a.t <= b.t` both desugar to as two inequality conjuncts)
  * have no literal width to bin by, so they bin by the constant
  * `IntervalBinWidth` (300000000 micros = 5 min). The INTERVAL side is
  * exploded into `sequence(lo DIV W, hi DIV W)` bin copies — correctness
  * never depends on W; W only tunes copies-per-row (intervals spanning
  * many bins) against per-bin fan-in (bins matching many points),
  * exactly the knob production range-join implementations expose as a
  * bin-size hint. A matching pair agrees in exactly one bin copy (the
  * point's own bin), so no dedup is needed.
  * For LEFT OUTER joins the exploded side must be the non-preserved
  * (right) side — exploding the preserved side would multiply its
  * zero-match rows — so an interval-on-the-left outer join is left
  * untouched.
  *
  * Fires only when the join has no equality conjunct already (after the
  * rewrite the join HAS one, so the rule is idempotent by construction).
  * Active in every session built by `graft.GraftSession`, through
  * `GraftExtensions` (injected as an optimizer rule).
  */
object RangeJoinBinning extends Rule[LogicalPlan] with PredicateHelper {

  private def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Int, _) => Some(v.toLong)
    case _ => None
  }

  /** `abs(x - y) <= w` / `w >= abs(x - y)` with a positive literal w. */
  private def rangePattern(e: Expression): Option[(Expression, Expression, Long)] =
    e match {
      case LessThanOrEqual(Abs(Subtract(x, y, _), _), wl) =>
        longLit(wl).filter(_ > 0).map((x, y, _))
      case GreaterThanOrEqual(wl, Abs(Subtract(x, y, _), _)) =>
        longLit(wl).filter(_ > 0).map((x, y, _))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, jt, Some(cond), hint)
        if (jt == Inner || jt == LeftOuter) && !hasEquiKey(cond, j) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val oriented = conjuncts.iterator
        .flatMap(rangePattern(_).iterator)
        .flatMap { case (x, y, w) => orient(x, y, left, right).map { case (l, r) => (l, r, w) } }
        .nextOption()
      oriented match {
        case Some((lTime, rTime, w)) => rewrite(j, jt, hint, lTime, rTime, w)
        case None =>
          intervalPattern(conjuncts, j) match {
            case Some(shape) if jt == Inner || shape.ptOnLeft =>
              rewriteInterval(j, jt, hint, shape)
            case _ => j
          }
      }
  }

  /** A detected point-in-interval join: `pt` (from one side) constrained
    * into the data-carried `[lo, hi]` of the other side.
    */
  private case class IntervalShape(
      ptOnLeft: Boolean, pt: Expression, lo: Expression, hi: Expression)

  /** Find `pt >= lo AND pt <= hi` (any orientation, strict or not) where
    * pt is a Long expression of one side and BOTH bounds are Long
    * expressions of the other side. Strict bounds are fine: binning only
    * needs the bin range to COVER the match range; the original
    * conjuncts stay as the residual predicate.
    */
  private def intervalPattern(
      conjuncts: Seq[Expression], j: Join): Option[IntervalShape] = {
    // each inequality yields a (pointCandidate, bound, isLowerBound) view
    // from both of its operands' perspectives
    final case class B(pt: Expression, bound: Expression, lower: Boolean)
    val bounds = conjuncts.flatMap {
      case GreaterThanOrEqual(x, y) => Seq(B(x, y, lower = true), B(y, x, lower = false))
      case GreaterThan(x, y) => Seq(B(x, y, lower = true), B(y, x, lower = false))
      case LessThanOrEqual(x, y) => Seq(B(x, y, lower = false), B(y, x, lower = true))
      case LessThan(x, y) => Seq(B(x, y, lower = false), B(y, x, lower = true))
      case _ => Nil
    }
    val pairs = for {
      l <- bounds.iterator if l.lower
      u <- bounds.iterator if !u.lower && l.pt.semanticEquals(u.pt)
    } yield (l.pt, l.bound, u.bound)
    pairs.flatMap { case (pt, lo, hi) =>
      if (pt.dataType != LongType || lo.dataType != LongType || hi.dataType != LongType) {
        None
      } else {
        val ptLeft = pt.references.nonEmpty && pt.references.subsetOf(j.left.outputSet)
        val ptRight = pt.references.nonEmpty && pt.references.subsetOf(j.right.outputSet)
        if (!ptLeft && !ptRight) None
        else {
          val other = if (ptLeft) j.right.outputSet else j.left.outputSet
          if (lo.references.nonEmpty && lo.references.subsetOf(other) &&
            hi.references.nonEmpty && hi.references.subsetOf(other))
            Some(IntervalShape(ptLeft, pt, lo, hi))
          else None
        }
      }
    }.nextOption()
  }

  /** Any conjunct already equating a left expression with a right one
    * means the planner has a hash key — nothing to fix.
    */
  private def hasEquiKey(cond: Expression, j: Join): Boolean =
    splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) => acrossSides(a, b, j.left, j.right)
      case EqualNullSafe(a, b) => acrossSides(a, b, j.left, j.right)
      case _ => false
    }

  private def acrossSides(
      a: Expression, b: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
      (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))

  /** Resolve which operand belongs to which side; abs is symmetric. */
  private def orient(
      x: Expression, y: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression)] =
    if (x.dataType != LongType || y.dataType != LongType) None
    else if (x.references.subsetOf(left.outputSet) && x.references.nonEmpty &&
      y.references.subsetOf(right.outputSet) && y.references.nonEmpty) Some((x, y))
    else if (y.references.subsetOf(left.outputSet) && y.references.nonEmpty &&
      x.references.subsetOf(right.outputSet) && x.references.nonEmpty) Some((y, x))
    else None

  private def rewrite(
      j: Join, jt: JoinType, hint: JoinHint,
      lTime: Expression, rTime: Expression, w: Long): LogicalPlan = {
    val width = Literal(w, LongType)
    val lBin = Alias(IntegralDivide(lTime, width), "graft_bin_l")()
    val newLeft = Project(j.left.output :+ lBin, j.left)
    val rBase = IntegralDivide(rTime, width)
    val rBins = CreateArray(Seq(
      Subtract(rBase, Literal(1L)), rBase, Add(rBase, Literal(1L))))
    val rBinAttr = AttributeReference("graft_bin_r", LongType)()
    val newRight =
      Generate(Explode(rBins), Nil, outer = false, None, Seq(rBinAttr), j.right)
    val newCond = And(EqualTo(lBin.toAttribute, rBinAttr), j.condition.get)
    Project(j.output, Join(newLeft, newRight, jt, Some(newCond), hint))
  }

  /** Bin width for interval shapes (no literal width in the predicate). */
  private val IntervalBinWidth = 300000000L

  /** Point side: bin projection. Interval side: explode into every bin
    * the interval overlaps (`sequence(lo DIV W, hi DIV W)`). The point
    * falls in exactly one bin, so a true match pairs with exactly one
    * interval copy — superset coverage + the original residual = exact.
    */
  private def rewriteInterval(
      j: Join, jt: JoinType, hint: JoinHint, shape: IntervalShape): LogicalPlan = {
    val width = Literal(IntervalBinWidth, LongType)
    val ptBin = Alias(IntegralDivide(shape.pt, width), "graft_bin_pt")()
    // timeZoneId must be supplied by hand: the analyzer's ResolveTimeZone
    // has already run, and a TimeZoneAware expression without it is
    // unresolved — failing the optimizer's plan validation
    val binSeq = Sequence(
      IntegralDivide(shape.lo, width), IntegralDivide(shape.hi, width),
      None, Some(conf.sessionLocalTimeZone))
    val ivBinAttr = AttributeReference("graft_bin_iv", LongType)()
    val (newLeft, newRight) =
      if (shape.ptOnLeft)
        (Project(j.left.output :+ ptBin, j.left),
          Generate(Explode(binSeq), Nil, outer = false, None, Seq(ivBinAttr), j.right))
      else
        (Generate(Explode(binSeq), Nil, outer = false, None, Seq(ivBinAttr), j.left),
          Project(j.right.output :+ ptBin, j.right))
    val newCond = And(EqualTo(ptBin.toAttribute, ivBinAttr), j.condition.get)
    Project(j.output, Join(newLeft, newRight, jt, Some(newCond), hint))
  }
}
