package graft.football

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TrackingOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Reference for `TrackingOps.longestAccelStreak`: the same operator
    * through §1.1's grouped-scan escape hatch, the pattern for operators
    * that have no window form — a SECONDARY SORT (hash-repartition on
    * the group key, sortWithinPartitions on (key, frameId); Spark's sort
    * spills to disk) followed by a streaming boundary scan with O(1)
    * state, so an unbounded timeline never materializes in one task's
    * heap. The windows form must match it row for row.
    */
  private def longestAccelStreakScan(tracking: DataFrame): DataFrame = {
    import spark.implicits._
    tracking
      .select(col("gameId"), col("playId"), col("nflId"), col("frameId"), col("s"))
      .repartition(col("gameId"), col("playId"), col("nflId"))
      .sortWithinPartitions("gameId", "playId", "nflId", "frameId")
      .as[(Long, Long, Long, Int, Double)]
      .mapPartitions { it =>
        // rows arrive grouped and frame-ordered; each next() consumes
        // exactly one group off the shared buffered iterator
        val in = it.buffered
        new Iterator[(Long, Long, Long, Int)] {
          override def hasNext: Boolean = in.hasNext
          override def next(): (Long, Long, Long, Int) = {
            val (g, p, n, _, s0) = in.next()
            var prevS = s0
            var run = 1
            var best = 1
            while (in.hasNext && { val h = in.head; h._1 == g && h._2 == p && h._3 == n }) {
              val sv = in.next()._5
              run = if (sv > prevS) run + 1 else 1
              if (run > best) best = run
              prevS = sv
            }
            (g, p, n, best)
          }
        }
      }
      .toDF("gameId", "playId", "nflId", "longest_accel_streak")
  }

  private def straightLine = {
    import spark.implicits._
    // one player moving (0,0) → (4,2) → (8,4): constant velocity
    Seq(
      (1L, 1L, 7L, "P", 1, 0.0, 0.0),
      (1L, 1L, 7L, "P", 2, 4.0, 2.0),
      (1L, 1L, 7L, "P", 3, 8.0, 4.0)
    ).toDF("gameId", "playId", "nflId", "displayName", "frameId", "x", "y")
  }

  test("interpolateFrames doubles the frame rate with exact midpoints") {
    val up = TrackingOps.interpolateFrames(straightLine, factor = 2)
    // 2 inner frames × 2 + final frame = 5 sub-frames
    assert(up.count() === 5)
    val byFrame = up.collect().map(r => r.getAs[Int]("subFrame") ->
      (r.getAs[Double]("xi"), r.getAs[Double]("yi"))).toMap
    assert(byFrame(0) === ((0.0, 0.0)))
    assert(byFrame(1) === ((2.0, 1.0))) // exact midpoint
    assert(byFrame(2) === ((4.0, 2.0)))
    assert(byFrame(3) === ((6.0, 3.0)))
    assert(byFrame(4) === ((8.0, 4.0)))
  }

  test("interpolateFrames with factor=1 preserves the original frames") {
    val up = TrackingOps.interpolateFrames(straightLine, factor = 1)
    assert(up.count() === 3)
    assert(up.select(sum(col("xi"))).head().getDouble(0) === 12.0)
  }

  test("longestAccelStreak finds the longest increasing run (gaps-and-islands windows)") {
    import spark.implicits._
    // speeds: 1,2,3,1,2 → longest increasing run = 3
    val df = Seq(
      (1L, 1L, 7L, "P", 1, 0.0, 0.0, 1.0),
      (1L, 1L, 7L, "P", 2, 1.0, 0.0, 2.0),
      (1L, 1L, 7L, "P", 3, 2.0, 0.0, 3.0),
      (1L, 1L, 7L, "P", 4, 3.0, 0.0, 1.0),
      (1L, 1L, 7L, "P", 5, 4.0, 0.0, 2.0),
      (1L, 1L, 8L, "Q", 1, 0.0, 0.0, 5.0)
    ).toDF("gameId", "playId", "nflId", "displayName", "frameId", "x", "y", "s")
    val streaks = TrackingOps.longestAccelStreak(df)
      .collect().map(r => r.getLong(2) -> r.getInt(3)).toMap
    assert(streaks(7L) === 3)
    assert(streaks(8L) === 1)
    val scanned = longestAccelStreakScan(df)
      .collect().map(r => r.getLong(2) -> r.getInt(3)).toMap
    assert(scanned === streaks)
  }

  test("windows and secondary-sort streak forms match brute force on large shuffled timelines") {
    import spark.implicits._
    // 50k-frame timelines (far beyond any real play) in SHUFFLED input
    // order across many partitions: the secondary sort must restore the
    // frame order per group without materializing a timeline in memory
    val rnd = new scala.util.Random(7)
    val raw = (1 to 3).flatMap { player =>
      (1 to 50000).map { f => (1L, 1L, player.toLong, "P", f, 0.0, 0.0, rnd.nextDouble()) }
    }
    val expected = raw.groupBy(_._3).map { case (n, rows) =>
      val speeds = rows.sortBy(_._5).map(_._8)
      var best = 1; var run = 1
      speeds.sliding(2).foreach {
        case Seq(a, b) => run = if (b > a) run + 1 else 1; if (run > best) best = run
        case _ =>
      }
      n -> best
    }
    val df = rnd.shuffle(raw)
      .toDF("gameId", "playId", "nflId", "displayName", "frameId", "x", "y", "s")
      .repartition(16) // scatter each timeline over many input partitions
    val got = TrackingOps.longestAccelStreak(df)
      .collect().map(r => r.getLong(2) -> r.getInt(3)).toMap
    assert(got === expected)
    val gotScan = longestAccelStreakScan(df)
      .collect().map(r => r.getLong(2) -> r.getInt(3)).toMap
    assert(gotScan === expected)
  }

  test("derivedSpeed recovers constant velocity from positions") {
    val d = TrackingOps.derivedSpeed(straightLine, hz = 10.0)
    val speeds = d.filter(col("derived_s").isNotNull)
      .select("derived_s").collect().map(_.getDouble(0))
    // step length = sqrt(16+4) = 4.472 yd per frame → 44.72 yd/s at 10 Hz
    assert(speeds.length === 2)
    speeds.foreach(s => assert(math.abs(s - math.sqrt(20.0) * 10) < 1e-9))
  }
}
