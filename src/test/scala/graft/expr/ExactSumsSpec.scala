package graft.expr

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.{QueryLoop, TestSpark}

/** `cents(x, k)` against the cast it replaces, and the exact sum built on
  * it against `CAST(SUM(CAST(x AS DECIMAL(18,k))) AS DOUBLE)`, bit for bit.
  */
class ExactSumsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val rng = new scala.util.Random(20261019L)

  /** Exact and near .5 ties at k places, in both signs. */
  private def ties(k: Int): Seq[Double] = {
    val s = math.pow(10, k)
    val named = Seq(1.005, 2.675, 0.125, 1.115, 0.285, 1.0000005, 2.5000005, 0.0000125, 8.345, 4.35)
    val grid = (1 to 400).map(i => (i + 0.5) / s) ++ (1 to 200).map(i => (rng.nextInt(2000000) + 0.5) / s)
    val near = (named ++ grid).flatMap(x => Seq(x, math.nextUp(x), math.nextDown(x)))
    near ++ near.map(-_)
  }

  private def specials(k: Int): Seq[Double] = {
    val two53 = math.pow(2, 53)
    val limit = math.pow(10, 18 - k)
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue, 1e300, 1e-300) ++
      Seq(two53, two53 / math.pow(10, k), limit, limit / 2, 0.5 / math.pow(10, k))
        .flatMap(x => Seq(x, math.nextUp(x), math.nextDown(x), math.nextUp(math.nextUp(x)),
          math.nextDown(math.nextDown(x))))
        .flatMap(x => Seq(x, -x))
  }

  private def randoms: Seq[Double] =
    Seq.fill(3000)(java.lang.Double.longBitsToDouble(rng.nextLong())) ++
      Seq.fill(3000)((rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(20) - 3)) ++
      Seq.fill(3000)(rng.nextInt(10000000) / 100.0) ++
      Seq.fill(1000)(rng.nextInt(100000000) / 1000.0)

  private def doubles(xs: Seq[Double]): DataFrame = TestSpark.doubles(spark, xs)

  for (k <- Seq(2, 6)) test(s"cents(x, $k) is the unscaled CAST(x AS DECIMAL(18,$k)) on ties, specials and random doubles") {
    val xs = ties(k) ++ specials(k) ++ randoms
    val rows = doubles(xs)
      .select(col("x"), expr(s"cents(x, $k)").as("c"), col("x").cast(DecimalType(18, k)).as("d"))
      .collect()
    assert(rows.length === xs.length)
    val bad = rows.filter { r =>
      val want = if (r.isNullAt(2)) None else Some(r.getDecimal(2).unscaledValue.longValueExact)
      val got = if (r.isNullAt(1)) None else Some(r.getLong(1))
      // the generated and the interpreted path agree too
      val interpreted = Some(Cents.unscaled(r.getDouble(0), k)).filter(_ != Cents.Null)
      got != want || interpreted != want
    }
    assert(bad.isEmpty, bad.take(5).map(r => s"x=${r.get(0)} cents=${r.get(1)} cast=${r.get(2)}").mkString("; "))
  }

  test("NaN, ±Inf and values the cast overflows give null; -0.0 gives 0") {
    for (k <- Seq(2, 6)) {
      val r = doubles(Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
          math.pow(10, 18 - k), -math.pow(10, 18 - k), -0.0))
        .select(expr(s"cents(x, $k)")).collect().map(r => Option(r.get(0)))
      assert(r.toSeq === Seq(None, None, None, None, None, Some(0L)))
    }
  }

  private val schema = StructType(Seq(StructField("g", StringType), StructField("x", DoubleType)))

  private def grouped(rows: Seq[(String, java.lang.Double)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (g, x) => Row(g, x) }: _*), schema)

  /** Each group's exact sum and the decimal sum it replaces, as raw bits. */
  private def both(df: DataFrame, k: Int, byGroup: Boolean): Seq[(Any, Option[Long], Option[Long])] = {
    val aggs = Seq(
      ExactSums.sumOf(k, ExactSums.cents(col("x"), k)).as("exact"),
      sum(col("x").cast(DecimalType(18, k))).cast("double").as("dec"))
    val out = if (byGroup) df.groupBy("g").agg(aggs.head, aggs.tail: _*) else df.agg(aggs.head, aggs.tail: _*).withColumn("g", lit(null))
    def bits(r: Row, i: Int) = if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    out.select("g", "exact", "dec").collect().toSeq.map(r => (r.get(0), bits(r, 1), bits(r, 2)))
  }

  for (k <- Seq(2, 6)) test(s"exact sum at scale $k equals the decimal sum bit for bit on grouped data with nulls") {
    val rows = (0 until 20000).map { i =>
      val g = s"g${rng.nextInt(40)}"
      val x: java.lang.Double =
        if (rng.nextInt(10) == 0) null
        else if (rng.nextBoolean()) rng.nextInt(100000000) / 100.0 * (if (rng.nextBoolean()) 1 else -1)
        else (rng.nextDouble() - 0.3) * math.pow(10, rng.nextInt(9) - 2)
      g -> x
    } ++ Seq("all_null" -> null, "all_null" -> null)
    val out = both(grouped(rows).repartition(7), k, byGroup = true)
    assert(out.size === 41)
    out.foreach { case (g, exact, dec) => assert(exact === dec, s"group $g") }
    assert(out.collectFirst { case ("all_null", e, _) => e } === Some(None))
  }

  test("exact sum over empty input is null, as the decimal sum is") {
    val out = both(grouped(Nil), 2, byGroup = false)
    assert(out === Seq((null, None, None)))
    assert(both(grouped(Nil), 2, byGroup = true).isEmpty)
  }

  test("q01's discounted product sum equals its decimal form bit for bit") {
    import spark.implicits._
    val df = Seq.fill(5000)((rng.nextInt(3).toString, rng.nextInt(10000000) / 100.0, rng.nextInt(11) / 100.0))
      .toDF("g", "price", "disc")
    val out = df.groupBy("g").agg(
      ExactSums.sumOf(4, ExactSums.cents(col("price"), 2), lit(100L) - ExactSums.cents(col("disc"), 2)).as("exact"),
      sum(col("price").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(12, 2)) - col("disc").cast(DecimalType(18, 2)))).cast("double").as("dec"))
      .collect()
    assert(out.length === 3)
    out.foreach(r => assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ===
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.toString))
  }

  test("a group whose cents total passes Long.MaxValue trips the typed guard, never wraps") {
    // 100 × 9e17 cents = 9e19 > Long.MaxValue ≈ 9.2e18
    val rows = Seq.fill(100)("hot" -> java.lang.Double.valueOf(9e15)) ++ Seq("cold" -> java.lang.Double.valueOf(1.0))
    val e = intercept[SparkException] {
      grouped(rows).groupBy("g").agg(ExactSums.sumOf(2, ExactSums.cents(col("x"), 2))).collect()
    }
    val trip = QueryLoop.guardTrip(e)
    assert(trip.map(_.what) === Some("exact sum"), e.toString)
    // the harness files it as a guard skip, not as an error
    val (_, outcome) = QueryLoop.run(spark)(
      grouped(rows).agg(ExactSums.sumOf(2, ExactSums.cents(col("x"), 2))).collect())
    assert(outcome.isInstanceOf[QueryLoop.Skip])
    // below the bound the same values sum exactly
    val ok = grouped(rows.take(4)).agg(ExactSums.sumOf(2, ExactSums.cents(col("x"), 2))).collect()
    assert(ok.head.getDouble(0) === 3.6e16)
  }
}
