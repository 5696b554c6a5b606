package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.plans.BinnedRangeJoinRule.binned

/** BinnedRangeJoinRule semantics: the rewrite must be EXACT (bin
  * candidates are a superset, the residual filter restores equality
  * with the naïve θ-join) for any sign of the data — truncating `div`
  * is not floor for negatives, but monotonicity is all the proof needs.
  */
class BinnedRangeJoinRuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixtures = {
    import spark.implicits._
    // points across negative and positive ranges; intervals of mixed width
    val points = (-500L to 500L by 7L).map(x => (x, s"p$x")).toDF("x", "tag")
    val intervals = Seq(
      (1L, -490L, -400L), (2L, -10L, 25L), (3L, 0L, 0L),
      (4L, 100L, 399L), (5L, 350L, 360L), (6L, 480L, 600L))
      .toDF("iid", "lo", "hi")
    (points, intervals)
  }

  test("rewritten join returns exactly the naive theta-join rows (incl. negatives)") {
    val (points, intervals) = fixtures
    val cond = col("x") >= col("lo") && col("x") <= col("hi")
    val expected = points.join(intervals, cond)
      .select("iid", "x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    for (w <- Seq(1L, 13L, 100L, 10000L)) {
      val df = binned(points.join(intervals, cond).select("iid", "x"), w)
      assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"),
        s"rule did not fire at binWidth=$w")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"binWidth=$w")
    }
  }

  test("randomized: exact vs naive join, incl. inverted and zero-width intervals") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val points = Seq.fill(300)((rnd.nextLong() % 1000, rnd.nextInt())).zipWithIndex
      .map { case ((x, _), i) => (i.toLong, x) }.toDF("pid", "x")
    val intervals = Seq.fill(40) {
      val lo = rnd.nextLong() % 1000
      // mix: proper, zero-width, and INVERTED (lo > hi) intervals —
      // inverted must yield zero matches, not a sequence() error
      val hi = rnd.nextInt(4) match {
        case 0 => lo
        case 1 => lo - 1 - rnd.nextInt(100)
        case _ => lo + rnd.nextInt(300)
      }
      (lo, hi)
    }.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
      .toDF("iid", "lo", "hi")
    val cond = col("x") >= col("lo") && col("x") <= col("hi")
    val expected = points.join(intervals, cond)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (w <- Seq(7L, 64L, 1000L)) {
      val got = binned(points.join(intervals, cond).select("pid", "iid"), w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"binWidth=$w")
    }
  }

  test("binned leaves a join with no range pair untouched") {
    val (points, intervals) = fixtures
    // pure equi-join (no lower+upper pair) -> matcher declines
    val keyed = binned(points.withColumn("k", col("x") % 3)
        .join(intervals.withColumn("k", col("iid") % 3), Seq("k")), 10L)
      .queryExecution.executedPlan.toString
    assert(!keyed.contains("__graft_bin"))
  }

  test("N-conjunct: equi-key + range rewrites, keeps BOTH as join keys, stays exact") {
    val (points, intervals) = fixtures
    val p2 = points.withColumn("k", pmod(col("x"), lit(3)))
    val i2 = intervals.withColumn("k2", pmod(col("iid"), lit(3)))
    val cond = col("k") === col("k2") &&
      col("x") >= col("lo") && col("x") <= col("hi")
    val expected = p2.join(i2, cond)
      .select("iid", "x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    for (w <- Seq(1L, 13L, 100L)) {
      val df = binned(p2.join(i2, cond).select("iid", "x"), w)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__graft_bin"), s"rule did not fire at binWidth=$w")
      // the user's equi-key AND the bin both reach the join keys — the
      // planner's key list carries them together on one side
      assert("\\[k#\\d+L?, __graft_bin_p#\\d+L\\]".r.findFirstIn(plan).isDefined ||
        "\\[__graft_bin_p#\\d+L, k#\\d+L?\\]".r.findFirstIn(plan).isDefined,
        s"equi-key not joined with the bin at binWidth=$w:\n$plan")
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"binWidth=$w")
    }
  }

  test("strict bounds (< / >) also rewrite, and the strict residual stays exact") {
    val (points, intervals) = fixtures
    val cond = col("x") > col("lo") && col("x") < col("hi")
    val expected = points.join(intervals, cond)
      .select("iid", "x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val df = binned(points.join(intervals, cond).select("iid", "x"), 50L)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    // boundary rows excluded: no (iid, x) pair with x == lo or x == hi
    val boundary = points.join(intervals,
      col("x") === col("lo") || col("x") === col("hi"))
      .select("iid", "x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(boundary.intersect(got).isEmpty)
  }

  test("eager binned() rewrites with no session conf, and survives re-planning") {
    val (points, intervals) = fixtures
    val cond = col("x") >= col("lo") && col("x") <= col("hi")
    val expected = points.join(intervals, cond)
      .select("iid", "x").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val df = binned(points.join(intervals, cond).select("iid", "x"), 100L)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"))
    // downstream wrapping re-plans from the logical plan: the rewrite
    // must still be there (a set/restore conf window around planning
    // would lose it here)
    val wrapped = df.coalesce(1)
    assert(wrapped.queryExecution.executedPlan.toString.contains("__graft_bin"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === expected)
  }

  test("TimestampType points bin on epoch micros and stay exact") {
    import spark.implicits._
    // events at 1-minute spacing; intervals of mixed width in minutes
    val base = 1700000000000000L // µs
    val points = (0L until 600L).map(m => (m, base + m * 60_000_000L))
      .toDF("pid", "us").withColumn("t", timestamp_micros(col("us"))).drop("us")
    val intervals = Seq((1L, 5L, 10L), (2L, 0L, 0L), (3L, 300L, 302L), (4L, 590L, 700L))
      .toDF("iid", "lo_m", "hi_m")
      .select(col("iid"),
        timestamp_micros(lit(base) + col("lo_m") * 60_000_000L).as("lo"),
        timestamp_micros(lit(base) + col("hi_m") * 60_000_000L).as("hi"))
    val cond = col("t") >= col("lo") && col("t") <= col("hi")
    val expected = points.join(intervals, cond)
      .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    // binWidth is µs for timestamps: 7 minutes per bin
    val df = binned(points.join(intervals, cond).select("iid", "pid"), 7L * 60_000_000L)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"),
      "rule did not fire on TimestampType points")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("DateType points bin on epoch days; IntegerType points widen to long") {
    import spark.implicits._
    val points = (0 until 200).map(i => (i.toLong, i)).toDF("pid", "d0")
      .select(col("pid"), date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("d0")).as("dt"))
    val intervals = Seq((1L, 3, 10), (2L, 60, 61), (3L, 180, 250))
      .toDF("iid", "lo0", "hi0")
      .select(col("iid"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("lo0")).as("lo"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("hi0")).as("hi"))
    val cond = col("dt") >= col("lo") && col("dt") <= col("hi")
    val expected = points.join(intervals, cond)
      .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)
    val df = binned(points.join(intervals, cond).select("iid", "pid"), 30L) // 30-day bins
    assert(df.queryExecution.executedPlan.toString.contains("__graft_bin"),
      "rule did not fire on DateType points")
    val gotDate = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotDate === expected)
    // IntegerType points
    val ip = (-50 to 150).map(x => (x.toLong, x)).toDF("pid", "x")
    val ii = Seq((1L, -30, -10), (2L, 0, 5), (3L, 120, 200)).toDF("iid", "lo", "hi")
    val icond = col("x") >= col("lo") && col("x") <= col("hi")
    val iexp = ip.join(ii, icond).select("iid", "pid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idf = binned(ip.join(ii, icond).select("iid", "pid"), 16L)
    assert(idf.queryExecution.executedPlan.toString.contains("__graft_bin"),
      "rule did not fire on IntegerType points")
    val igot = idf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(igot === iexp)
  }

  test("fixed-point stable: the rule does not re-fire on its own output") {
    val (points, intervals) = fixtures
    val cond = col("x") >= col("lo") && col("x") <= col("hi")
    val once = BinnedRangeJoinRule.rewriteAll(
      points.join(intervals, cond).queryExecution.analyzed, 100L)
    val twice = BinnedRangeJoinRule.rewriteAll(once, 100L)
    assert(twice === once)
  }
}
