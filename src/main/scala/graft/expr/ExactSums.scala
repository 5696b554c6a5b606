package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, MakeDecimal, Multiply, NumericEvalContext, UnaryExpression}
import org.apache.spark.sql.classic.ColumnConversions.expression
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, LongType}

/** The tie test that lets a double skip the decimal string on its way to
  * a HALF_UP rounding at k places ([[Cents]], [[ExactRound]]).
  *
  * Spark rounds the decimal string of `x` (`Double.toString`), which is
  * within ½ ulp of `x`. `p = x·10^k` (10^k is an exact double) is thus
  * within 1.5 ulp of that decimal times 10^k, so where `p` is more than
  * 4 ulp from a .5 tie, `rint(p)` is the integer HALF_UP gives. For
  * every |p| ≥ 2^50 (ulp ≥ 1/4) and for NaN and ±Inf the test fails,
  * so those always take the caller's exact route.
  */
private[expr] object HalfUp {
  /** 10^k as an exact double (5^k < 2^53 for k ≤ 18). */
  def pow10(k: Int): Double = math.pow(10, k).toLong.toDouble

  def clearOfTie(p: Double): Boolean = Math.abs(p - Math.floor(p) - 0.5) > 4.0 * Math.ulp(p)

  /** Java that sets `p = x·10^k`, then runs `fast(p)` where `p` is clear
    * of a tie and `exact` elsewhere.
    */
  def genCode(ctx: CodegenContext, x: String, k: Int)(fast: String => String, exact: String): String = {
    val p = ctx.freshName("p")
    s"""
       |final double $p = $x * ${pow10(k)}d;
       |if (java.lang.Math.abs($p - java.lang.Math.floor($p) - 0.5d) > 4.0d * java.lang.Math.ulp($p)) {
       |  ${fast(p)}
       |} else {
       |  $exact
       |}
     """.stripMargin
  }
}

/** `cents(x, k)`: the unscaled long that `CAST(x AS DECIMAL(18,k))`
  * gives for the double `x` (k = 2: cents), for every double.
  *
  * The cast rounds the decimal string of `x` (`Double.toString`) HALF_UP
  * at k places; where [[HalfUp]]'s tie test passes, `rint(x·10^k)` is
  * that integer — the fast path, generated inline. Near a tie, and for
  * every |x·10^k| ≥ 2^50, the static `exact` runs Spark's own cast route
  * instead: `Decimal(x)` then `changePrecision(18, k)`. NaN, ±Inf and
  * values the cast overflows (|x| ≥ 10^(18−k)) give null, as the
  * non-ANSI cast does. `child` is a double: both builders cast it.
  */
case class Cents(child: Expression, scale: Int) extends UnaryExpression {
  require(scale >= 0 && scale <= 18, s"cents scale must be in [0, 18], got $scale")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cents"

  override protected def nullSafeEval(input: Any): Any = {
    val v = Cents.unscaled(input.asInstanceOf[Double], scale)
    if (v == Cents.Null) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => HalfUp.genCode(ctx, x, scale)(
      p => s"${ev.value} = (long) java.lang.Math.rint($p);",
      s"""${ev.value} = graft.expr.Cents$$.MODULE$$.exact($x, $scale);
         |${ev.isNull} = ${ev.value} == java.lang.Long.MIN_VALUE;""".stripMargin))

  override protected def withNewChildInternal(newChild: Expression): Cents = copy(child = newChild)
}

object Cents {
  /** Marks a null result (`Long.MIN_VALUE` in the generated code); no
    * result of the cast reaches it (|v| < 10^18).
    */
  final val Null = Long.MinValue

  /** The registered builder: `cents(x, k)` with `k` a literal int. */
  def build(e: Seq[Expression]): Cents = {
    require(e.size == 2 && e(1).foldable, "cents(x, k) takes a column and a literal scale k")
    Cents(Cast(e(0), DoubleType), e(1).eval(InternalRow.empty).asInstanceOf[Number].intValue)
  }

  def unscaled(x: Double, k: Int): Long = {
    val p = x * HalfUp.pow10(k)
    if (HalfUp.clearOfTie(p)) Math.rint(p).toLong else exact(x, k)
  }

  /** Spark's non-ANSI `CAST(x AS DECIMAL(18,k))`, unscaled, or `Null`. */
  def exact(x: Double, k: Int): Long =
    if (x.isNaN || x.isInfinite || Math.abs(x) >= HalfUp.pow10(18 - k)) Null
    else {
      val d = Decimal(x)
      if (d.changePrecision(18, k)) d.toUnscaledLong else Null
    }
}

/** Column builders for the exact-sum rule (`graft.queries.Registry`):
  * terms are scaled longs from [[Cents]], summed as longs by Spark's
  * overflow-checked sum, and turned into a double once per group.
  */
object ExactSums {
  def cents(x: Column, k: Int): Column = ExprColumn(Cents(Cast(expression(x), DoubleType), k))

  private val Checked = NumericEvalContext(EvalMode.ANSI)

  /** The long sum of the product of `factors` (exact longs). The product
    * and the sum run in ANSI mode (`multiplyExact`, `addExact`) in any
    * session, so a total that passes a long fails with Spark's
    * `ARITHMETIC_OVERFLOW` instead of wrapping. `over` places the
    * aggregate, e.g. `_.over(w)` for a window sum.
    */
  def total(factors: Seq[Column], over: Column => Column = identity): Column = {
    val term = factors.map(expression).reduce(Multiply(_, _, Checked))
    over(ExprColumn(Sum(term, Checked).toAggregateExpression()))
  }

  /** An unscaled long at scale k as a double: through DECIMAL(38,k), the
    * double `CAST(SUM(decimal) AS DOUBLE)` gives (`long / 10^k` is not).
    */
  def toDouble(unscaled: Column, k: Int): Column =
    ExprColumn(Cast(MakeDecimal(expression(unscaled), 38, k), DoubleType))

  /** Exact sum of the product of `factors` whose scales add up to `k`. */
  def sumOf(k: Int, factors: Column*): Column = toDouble(total(factors), k)
}
