package graft.plans

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, TimestampType}

/** Logical-plan rewrite of a range θ-join into a binned equi-join — the
  * whole-plan form of q84's hand-written rewrite, and the (c)-tier
  * extension point of SURVEY.md §7.3 (a plan rewrite where composing
  * built-ins can't fix the PLAN even though it can fix the ANSWER).
  *
  * Spark plans `A JOIN B ON a BETWEEN lo AND hi` (no equi-key) as a
  * BroadcastNestedLoopJoin — or a CartesianProduct when neither side
  * broadcasts — both of which die at cluster scale. `binned(df, W)`
  * rewrites every matching join in `df`'s plan:
  *
  *   point side:  add `__graft_bin_p = a div W`
  *   bounds side: explode `sequence(lo div W, hi div W)` (W chosen near
  *                the typical interval width → ≤2 bins per row)
  *   join:        ON bin equality, original range kept as residual
  *
  * Truncating `div` is monotone non-decreasing for W > 0, so
  * a ∈ [lo, hi] implies the bins intersect: candidates are a superset
  * and the residual filter makes the rewrite EXACT for any sign, any
  * data. NULL bounds produce a NULL sequence → the Generate emits no
  * row, matching the original join's null semantics.
  *
  * Bin-count caveat: each bounds row explodes into
  * (hi - lo) / binWidth + 1 bins, so binWidth must be chosen near the
  * TYPICAL interval width (≤ a few bins per row). A pathological row
  * whose interval spans millions of bin widths fans out accordingly
  * (Spark's Sequence expression hard-fails past ~2^31 elements) —
  * pre-filter corrupt intervals or raise binWidth; the naïve plan,
  * while never faster, degrades smoothly where this rewrite amplifies
  * outlier rows.
  *
  * Matching: Inner join whose condition's conjuncts contain one lower
  * and one upper bound (inclusive or strict) on the same point
  * expression of an orderable integral-representable type — Long, Int,
  * Timestamp (binned on epoch micros) or Date (epoch days) — with
  * point/bounds referencing opposite sides, both deterministic. Any OTHER conjuncts — equi-keys ("same user AND ts
  * BETWEEN lo AND hi", the commonest real shape; cf. the reference's
  * per-frame scoped self-join, Field Control.R:226-241), extra
  * predicates — ride along untouched: the rewrite only ADDS the bin
  * equality, and ExtractEquiJoinKeys then plans BOTH the user's
  * equi-keys and the bin as join keys, so a skewed coarse key gains
  * the bin as a finer co-key. The rule never re-fires on its own
  * output (the rewritten condition references the `__graft_bin_*`
  * attributes, which the matcher rejects). Joins with no two-sided
  * range pair are left untouched.
  */
object BinnedRangeJoinRule extends PredicateHelper {

  /** Per-query activation: eagerly rewrite the range joins in `df`'s
    * analyzed plan at width `w` and return a frame built on the
    * rewritten plan. It cannot leak into later queries, and it survives
    * downstream wrapping: `count()`, `coalesce().write`, etc. each build
    * a NEW QueryExecution from the logical plan, which here already
    * carries the rewrite.
    */
  def binned(df: DataFrame, w: Long): DataFrame = {
    require(w > 0, s"bin width must be positive, got $w")
    GraftBridge.ofRows(df.sparkSession, rewriteAll(df.queryExecution.analyzed, w))
  }

  /** (point a, lower lo, upper hi) when `cond`'s conjuncts include a
    * two-sided range of a point expression from `pointPlan` bounded by
    * expressions from `boundsPlan`. Other conjuncts are ignored here —
    * the caller keeps the WHOLE original condition as the residual, so
    * they stay exact. Strict bounds (`<`/`>`) also match: bin(a) still
    * lands inside [bin(lo), bin(hi)] by monotonicity, the candidates
    * stay a superset, and the strict residual restores exactness.
    */
  private def matchRange(cond: Expression, pointPlan: LogicalPlan,
                         boundsPlan: LogicalPlan): Option[(Expression, Expression, Expression)] = {
    def fromPoint(e: Expression) = e.references.subsetOf(pointPlan.outputSet) &&
      e.references.nonEmpty && e.deterministic && supported(e.dataType)
    def fromBounds(e: Expression) = e.references.subsetOf(boundsPlan.outputSet) &&
      e.references.nonEmpty && e.deterministic && supported(e.dataType)
    // normalize one conjunct to Some((a, bound, isLower)); a from point side
    def norm(c: Expression): Option[(Expression, Expression, Boolean)] = c match {
      case GreaterThanOrEqual(x, y) if fromPoint(x) && fromBounds(y) => Some((x, y, true))
      case GreaterThanOrEqual(x, y) if fromBounds(x) && fromPoint(y) => Some((y, x, false))
      case LessThanOrEqual(x, y) if fromPoint(x) && fromBounds(y) => Some((x, y, false))
      case LessThanOrEqual(x, y) if fromBounds(x) && fromPoint(y) => Some((y, x, true))
      case GreaterThan(x, y) if fromPoint(x) && fromBounds(y) => Some((x, y, true))
      case GreaterThan(x, y) if fromBounds(x) && fromPoint(y) => Some((y, x, false))
      case LessThan(x, y) if fromPoint(x) && fromBounds(y) => Some((x, y, false))
      case LessThan(x, y) if fromBounds(x) && fromPoint(y) => Some((y, x, true))
      case _ => None
    }
    val bounds = splitConjunctivePredicates(cond).flatMap(norm)
    val lowers = bounds.collect { case (a, b, true) => (a, b) }
    val uppers = bounds.collect { case (a, b, false) => (a, b) }
    lowers.iterator.flatMap { case (al, lo) =>
      uppers.collectFirst { case (au, hi) if al.semanticEquals(au) => (al, lo, hi) }
    }.nextOption()
  }

  /** Orderable types the rule can bin. The binning only needs a MONOTONE
    * map to Long (the original condition stays as the exact residual):
    * Long as-is, Int widened, Timestamp via its epoch-micros internal
    * value (binWidth = µs, matching the events convention), Date via
    * epoch days (binWidth = days).
    */
  private def supported(t: DataType): Boolean = t match {
    case LongType | IntegerType | TimestampType | DateType => true
    case _ => false
  }

  private def toLong(e: Expression): Expression = e.dataType match {
    case LongType => e
    case IntegerType => Cast(e, LongType)
    case TimestampType => UnixMicros(e)
    case DateType => Cast(UnixDate(e), LongType)
    case t => throw new IllegalStateException(s"unbinnable type $t") // unreachable: matcher gated
  }

  private def div(e: Expression, w: Long): Expression =
    IntegralDivide(toLong(e), Literal(w))

  private def rewrite(j: Join, pointIsLeft: Boolean,
                      a: Expression, lo: Expression, hi: Expression, w: Long): LogicalPlan = {
    val (pointChild, boundsChild) = if (pointIsLeft) (j.left, j.right) else (j.right, j.left)
    val binP = Alias(div(a, w), "__graft_bin_p")()
    val newPoint = Project(pointChild.output :+ binP, pointChild)
    // guard inverted/NULL intervals: the naïve join matches nothing
    // there, but sequence(lo, hi, 1) with lo > hi THROWS — emit an
    // empty bin array instead (If on a NULL predicate takes the else
    // branch, so NULL bounds also fall through to no rows)
    val rawSeq = new Sequence(div(lo, w), div(hi, w), Literal(1L))
      .withTimeZone(SQLConf.get.sessionLocalTimeZone)
    val seqExpr = If(LessThanOrEqual(lo, hi), rawSeq,
      Literal.create(Array.empty[Long], org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)))
    val binB = AttributeReference("__graft_bin_b", LongType, nullable = false)()
    val newBounds = Generate(Explode(seqExpr), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(binB), child = boundsChild)
    val (newLeft, newRight) = if (pointIsLeft) (newPoint, newBounds) else (newBounds, newPoint)
    val newCond = And(EqualTo(binP.toAttribute, binB), j.condition.get)
    Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
  }

  /** The rewrite itself, on a logical plan. */
  def rewriteAll(plan: LogicalPlan, w: Long): LogicalPlan =
    plan.transformUp {
      // the rewritten join's condition references __graft_bin_* — the
      // guard keeps the rewrite fixed-point-stable now that N-conjunct
      // conditions (which its own output is) can match
      case j @ Join(left, right, Inner, Some(cond), _)
          if !cond.references.exists(_.name.startsWith("__graft_bin")) =>
        matchRange(cond, left, right) match {
          case Some((a, lo, hi)) => rewrite(j, pointIsLeft = true, a, lo, hi, w)
          case None => matchRange(cond, right, left) match {
            case Some((a, lo, hi)) => rewrite(j, pointIsLeft = false, a, lo, hi, w)
            case None => j
          }
        }
    }
}
