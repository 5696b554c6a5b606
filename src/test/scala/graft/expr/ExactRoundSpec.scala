package graft.expr

import java.util.SplittableRandom

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, Round}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExprColumn
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType, IntegerType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `exact_round(x, k)` against Spark's `round(x, k)` with
  * `ExactRoundRule` excluded, bit for bit, through generated code and
  * through interpreted evaluation; and the rule's reach: doubles with a
  * literal scale in [0, 18], nothing else.
  */
class ExactRoundSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A session sharing the test context with the rule excluded, so a
    * `round` there is Spark's own.
    */
  private lazy val off: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", ExactRoundRule.ruleName)
    s
  }

  private val scales = Seq(0, 1, 2, 4, 6, 10, 18)

  private val drawUdf = udf((i: Long, k: Int) => ExactRoundSpec.draw(i, k))
  private val sameBits = udf((a: Double, b: Double) =>
    java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b))

  private def exactRound(x: Column, k: Int): Column =
    ExprColumn(ExactRound(org.apache.spark.sql.classic.ColumnConversions.expression(x), k))

  /** Rows where exact_round and Spark's round differ in any bit, with
    * generated code (whole-stage and projection codegen) or without any.
    */
  private def mismatches(xs: DataFrame, k: Int, codegen: Boolean): Array[Row] = {
    val conf = Map(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    conf.foreach { case (key, v) => off.conf.set(key, v) }
    try {
      xs.select(col("x"), round(col("x"), k).as("round"), exactRound(col("x"), k).as("exact"))
        .filter(!sameBits(col("round"), col("exact")))
        .limit(5).collect()
    } finally conf.keys.foreach(off.conf.unset)
  }

  private def randoms(k: Int): DataFrame =
    off.range(0, 1000000, 1, 4).select(drawUdf(col("id"), lit(k)).as("x"))

  /** The named edge cases at scale k: .5 ties ±1 ulp, NaN, ±Inf, ±0.0,
    * −1e-9, |x·10^k| around and past 2^50, and ±Double.MaxValue.
    */
  private def edges(k: Int): Seq[Double] = {
    val s = math.pow(10, k)
    val ties = Seq(0.5, 1.5, 2.5, 12.5, 1234.5, 1e6 + 0.5).map(_ / s) ++ Seq(1.005, 2.675, 0.125, 8.345, 1.0000005)
    val big = Seq(math.pow(2, 50), math.pow(2, 51), math.pow(2, 53), 1e17, 1e300).map(_ / s)
    val near = (ties ++ big).flatMap(x => Seq(x, math.nextUp(x), math.nextDown(x)))
    (near ++ near.map(-_)) ++ Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, -1e-9, 1e-9, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, -Double.MaxValue)
  }

  for (codegen <- Seq(true, false)) {
    val how = if (codegen) "generated" else "interpreted"
    test(s"$how exact_round equals round bit for bit on 1M random doubles at k in ${scales.mkString("{", ", ", "}")}") {
      for (k <- scales) {
        val bad = mismatches(randoms(k), k, codegen)
        assert(bad.isEmpty, s"k=$k: " + bad.map(r => s"x=${r.get(0)} round=${r.get(1)} exact=${r.get(2)}").mkString("; "))
      }
    }

    test(s"$how exact_round equals round on ties ±1 ulp, NaN, ±Inf, ±0.0, -1e-9, |x·10^k| ≥ 2^50 and MaxValue") {
      for (k <- scales) {
        val bad = mismatches(TestSpark.doubles(off, edges(k)), k, codegen)
        assert(bad.isEmpty, s"k=$k: " + bad.map(r => s"x=${r.get(0)} round=${r.get(1)} exact=${r.get(2)}").mkString("; "))
      }
    }
  }

  /** Does `d`'s optimized plan hold an expression of class `c`? */
  private def holds(d: DataFrame, c: Class[_]): Boolean =
    d.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(c.isInstance)))

  /** -1.0, 0.25, 1.5 from a range, which the optimizer cannot fold away. */
  private def probe(s: SparkSession): DataFrame = s.range(3).selectExpr("CAST(id AS DOUBLE) * 1.25 - 1.0 AS x")

  test("DataFrame and SQL round on a double with a literal scale become exact_round; excludedRules keeps Round") {
    probe(spark).createOrReplaceTempView("exact_round_probe")
    val viaApi = probe(spark).select(round(col("x"), 2).as("r"))
    val viaSql = spark.sql("SELECT round(x, 6) AS r FROM exact_round_probe")
    for (d <- Seq(viaApi, viaSql))
      assert(holds(d, classOf[ExactRound]) && !holds(d, classOf[Round]), d.queryExecution.optimizedPlan)
    assert(viaApi.collect().map(_.getDouble(0)).toSeq === Seq(-1.0, 0.25, 1.5))
    val kept = probe(off).select(round(col("x"), 2))
    assert(holds(kept, classOf[Round]) && !holds(kept, classOf[ExactRound]))
  }

  /** `ExactRoundRule` applied to one projection of `round(x, k)`, with
    * `k` a literal, or an int column where `scale` is None.
    */
  private def ruled(child: DataType, scale: Option[Int]): LogicalPlan = {
    val x = AttributeReference("x", child)()
    val k = AttributeReference("k", IntegerType)()
    ExactRoundRule(Project(Seq(Alias(Round(x, scale.map(Literal(_)).getOrElse(k)), "r")()), LocalRelation(x, k)))
  }

  test("the rule leaves float, decimal, negative-scale, over-18, and column-scale round untouched") {
    def kept(p: LogicalPlan) = p.expressions.exists(_.exists(_.isInstanceOf[Round])) &&
      !p.expressions.exists(_.exists(_.isInstanceOf[ExactRound]))
    assert(kept(ruled(FloatType, Some(2))))
    assert(kept(ruled(DecimalType(18, 4), Some(2))))
    assert(kept(ruled(DoubleType, Some(-1))))
    assert(kept(ruled(DoubleType, Some(19))))
    assert(kept(ruled(DoubleType, None)))
    assert(!kept(ruled(DoubleType, Some(0))))
    assert(!kept(ruled(DoubleType, Some(18))))
    // and through the DataFrame API
    val others = probe(spark).select(round(col("x").cast(FloatType), 1),
      round(col("x").cast(DecimalType(10, 3)), 1), round(col("x"), -1))
    assert(holds(others, classOf[Round]) && !holds(others, classOf[ExactRound]))
  }
}

/** The random inputs, outside the suite so a UDF can ship them to tasks. */
object ExactRoundSpec {
  /** Row `i`'s double for scale `k`, in four families: raw bit patterns
    * (every exponent, NaN and ±Inf among them), uniform magnitudes from
    * 1e-12 to 1e12, .5 ties at k places moved 0–3 ulp either way, and
    * short decimals (the values measured data carries).
    */
  def draw(i: Long, k: Int): Double = {
    val r = new SplittableRandom(i * 31 + k)
    (i % 4).toInt match {
      case 0 => java.lang.Double.longBitsToDouble(r.nextLong())
      case 1 => (r.nextDouble() - 0.5) * math.pow(10, r.nextInt(25) - 12)
      case 2 =>
        var t = (r.nextLong(1L << r.nextInt(1, 52)) + 0.5) / math.pow(10, k) * (if (r.nextBoolean()) 1 else -1)
        for (_ <- 0 until r.nextInt(4)) t = if (r.nextBoolean()) math.nextUp(t) else math.nextDown(t)
        t
      case _ => r.nextLong(-100000000000L, 100000000000L) / math.pow(10, r.nextInt(12))
    }
  }
}
