package graft.expr

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** `exact_round(x, k)`: Spark's `round(x, k)` on a double, bit for bit,
  * without a `BigDecimal` per row.
  *
  * `round` turns `x` into its decimal string, rounds that HALF_UP at k
  * places and parses the result back (`BigDecimal.valueOf(x)
  * .setScale(k, HALF_UP).doubleValue()`, ~0.5 µs a call). Where
  * [[HalfUp]]'s tie test passes, `rint(x·10^k)` is the rounded integer n
  * and |n| < 2^50, so `(double) n / 10^k` — one correctly rounded IEEE
  * division of two exact doubles — is the double `doubleValue` returns.
  * The `long` cast maps `rint`'s −0.0 to +0.0, as `BigDecimal` (which
  * has no negative zero) does for −0.0 and tiny negatives. Near a tie,
  * and for |x·10^k| ≥ 2^50, the static `exact` runs `round`'s own
  * route; NaN and ±Inf pass through. Nullable, as `Round` is, so the
  * rewrite keeps every schema.
  */
case class ExactRound(child: Expression, scale: Int) extends UnaryExpression {
  require(scale >= 0 && scale <= 18, s"exact_round scale must be in [0, 18], got $scale")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "exact_round"

  override protected def nullSafeEval(input: Any): Any = ExactRound.round(input.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => HalfUp.genCode(ctx, x, scale)(
      p => s"${ev.value} = (double) (long) java.lang.Math.rint($p) / ${HalfUp.pow10(scale)}d;",
      s"${ev.value} = graft.expr.ExactRound$$.MODULE$$.exact($x, $scale);"))

  override protected def withNewChildInternal(newChild: Expression): ExactRound = copy(child = newChild)
}

object ExactRound {
  def round(x: Double, k: Int): Double = {
    val p = x * HalfUp.pow10(k)
    if (HalfUp.clearOfTie(p)) Math.rint(p).toLong.toDouble / HalfUp.pow10(k) else exact(x, k)
  }

  /** Spark's `round(x, k)` for a double, as its generated code spells it. */
  def exact(x: Double, k: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else JBigDecimal.valueOf(x).setScale(k, RoundingMode.HALF_UP).doubleValue()
}

/** Rewrites `round(x, k)` on a double with a literal 0 ≤ k ≤ 18 into
  * [[ExactRound]], in every operator; `round` on floats and decimals and
  * with a negative or non-literal scale is left as it is. Injected with
  * the other [[GraftExtensions.optimizerRules]]; switch it off with
  * `spark.sql.optimizer.excludedRules=graft.expr.ExactRoundRule`.
  */
object ExactRoundRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Round(x, Literal(k: Int, IntegerType), _) if x.dataType == DoubleType && k >= 0 && k <= 18 =>
      ExactRound(x, k)
  }
}
