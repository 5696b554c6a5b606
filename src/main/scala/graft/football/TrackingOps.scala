package graft.football

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tracking-series operators beyond the reference's verbs: the 10 Hz
  * frame stream (FIXTURES.md §2.4) upsampled/derived with window +
  * generator ops — no driver loops, partition-parallel per
  * (gameId, playId, nflId) timeline.
  */
object TrackingOps {

  private def timeline = Window.partitionBy("gameId", "playId", "nflId").orderBy("frameId")

  /** Linear position interpolation to `factor`× frame rate: each
    * consecutive frame pair fans out `factor` sub-frames via
    * sequence+explode (a generator, SURVEY.md §2.L: grid-style fan-out
    * beats per-row loops). The last frame of each timeline is kept
    * as-is. Output key: (gameId, playId, nflId, subFrame) with
    * `subFrame = (frameId-1)*factor + i`.
    */
  def interpolateFrames(tracking: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    val withNext = tracking
      .withColumn("next_x", lead(col("x"), 1).over(timeline))
      .withColumn("next_y", lead(col("y"), 1).over(timeline))
    val inner = withNext
      .filter(col("next_x").isNotNull)
      .withColumn("i", explode(sequence(lit(0), lit(factor - 1))))
    val interpolated = inner
      .withColumn("frac", col("i").cast("double") / factor)
      .withColumn("xi", col("x") + (col("next_x") - col("x")) * col("frac"))
      .withColumn("yi", col("y") + (col("next_y") - col("y")) * col("frac"))
      .withColumn("subFrame", (col("frameId") - 1) * factor + col("i"))
    val lastFrames = withNext
      .filter(col("next_x").isNull)
      .withColumn("xi", col("x"))
      .withColumn("yi", col("y"))
      .withColumn("subFrame", (col("frameId") - 1) * factor)
    interpolated.unionByName(lastFrames.withColumn("i", lit(0)).withColumn("frac", lit(0.0)))
      .select("gameId", "playId", "nflId", "displayName", "subFrame", "xi", "yi")
  }

  /** Longest consecutive run of strictly-increasing speed per
    * player-play, as PURE Catalyst gaps-and-islands windows (the
    * preferred relational rewrite, SURVEY.md §2.L — oracle-gated as
    * q161): every window partitions on the group key and orders by
    * frameId, so the whole op is ONE exchange + ONE sort —
    *   rn        = row position in the timeline,
    *   brk       = 1 where the streak resets (s not above its lag —
    *               null-speed rows reset too),
    *   start_rn  = running max of rn at reset rows = current island's
    *               first position,
    *   streak    = rn − start_rn + 1, and the answer is max(streak) —
    * the final groupBy rides the window's existing (g, p, n) hash
    * partitioning, so no second shuffle (plan-pinned in q161's audit).
    */
  def longestAccelStreak(tracking: DataFrame): DataFrame = {
    val wRun = timeline.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tracking
      .select(col("gameId"), col("playId"), col("nflId"), col("frameId"), col("s"))
      .withColumn("rn", row_number().over(timeline))
      .withColumn("brk",
        when(col("s") > lag(col("s"), 1).over(timeline), 0).otherwise(1))
      .withColumn("start_rn", max(when(col("brk") === 1, col("rn"))).over(wRun))
      .withColumn("streak", col("rn") - col("start_rn") + 1)
      .groupBy("gameId", "playId", "nflId")
      .agg(max(col("streak")).as("longest_accel_streak"))
  }

  /** Derived per-frame speed from positions (yd/s at `hz` frames/sec) —
    * the inverse of the kinematics projection; useful to validate or
    * replace a noisy sensor `s` column.
    */
  def derivedSpeed(tracking: DataFrame, hz: Double = 10.0): DataFrame =
    tracking
      .withColumn("prev_x", lag(col("x"), 1).over(timeline))
      .withColumn("prev_y", lag(col("y"), 1).over(timeline))
      .withColumn("derived_s",
        when(col("prev_x").isNull, lit(null))
          .otherwise(graft.ops.Kinematics.dist(col("x"), col("y"), col("prev_x"), col("prev_y")) * hz))
      .drop("prev_x", "prev_y")
}
