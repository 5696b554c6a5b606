package graft.football

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{FieldControl, Kinematics, Standardize}

/** SURVEY.md §3.2 end-to-end: the reference's field-control model over a
  * tracking play (Field Control.R:9-44, 223-378), composed from the ops
  * library. The reference iterates `group_split` → `map_dfr`
  * sequentially per player-frame; here the whole play (or season) is one
  * declarative plan — kinematics project, grid crossJoin (broadcast),
  * closed-form Gaussian, signed per-cell sum, sigmoid — fully
  * partition-parallel over (frameId, player).
  */
object FieldControlPipeline {

  /** Per-(frame, grid cell) control surface for the given tracking rows
    * (players only — the `football` team rows are excluded, matching
    * Field Control.R:230). `homeTeam` decides the sign flip
    * (Field Control.R:363-367).
    */
  /** `pruneMahalanobis`: drop grid cells beyond this many σ from a
    * player's influence ellipse before the exp/aggregation. The default
    * 12σ is result-safe (dropped mass < e⁻⁷² per row — unobservable at
    * 6-decimal rounding) while cutting most of the fan-out's
    * aggregation input on a full-size grid; `None` disables pruning.
    */
  /** `gridNormalize`: normalize each player's influence by its max over
    * the discrete grid (the reference's Field Control.R:346-347 form,
    * via [[FieldControl.normalizeByGridMax]]) instead of the default
    * continuous-max form. Changes absolute control values only when the
    * grid doesn't contain a player's projected mean; per-cell ordering
    * is identical either way.
    */
  def playControl(spark: SparkSession, tracking: DataFrame,
                  nx: Int = 120, ny: Int = 53,
                  pruneMahalanobis: Option[Double] = Some(12.0),
                  gridNormalize: Boolean = false): DataFrame = {
    // ball position per frame for the radius model (C4/D8 pattern);
    // football rows themselves don't project influence (Field Control.R:230)
    val withBall = CoveragePipeline.withBall(Standardize.directionStandardize(tracking))
      .filter(col("team") =!= "football")
    val projected = Kinematics.withProjection(Kinematics.withVelocity(withBall))
      .withColumn("dist_from_ball",
        Kinematics.dist(col("x"), col("y"), col("xFootball"), col("yFootball")))
    val k = Kinematics.withAxes(projected, col("dist_from_ball"))
      // Field Control.R:363-367 flips the HOME team to −1 so that a
      // home-dominated cell has control_sum → −∞ and control → 1.
      .withColumn("sgn", when(col("team") === "home", -1.0).otherwise(1.0))
    val grid = FieldControl.fieldGrid(spark, nx, ny)
    val fanout = k.crossJoin(broadcast(grid))
      .withColumn("maha_sq", FieldControl.mahalanobisSq(
        col("grid_x"), col("grid_y"), col("next_x"), col("next_y"),
        col("v_theta"), col("sx"), col("sy")))
    val pruned = pruneMahalanobis match {
      case Some(sigma) => fanout.filter(col("maha_sq") < sigma * sigma)
      case None => fanout
    }
    val keys = Seq("gameId", "playId", "frameId", "grid_x", "grid_y")
    val influenced = pruned.withColumn("influence", exp(lit(-0.5) * col("maha_sq")))
    // the max cell sits nearest μ, far inside any sane pruning cutoff,
    // so the window max over pruned rows equals the full-grid max
    val normalized =
      if (gridNormalize)
        FieldControl.normalizeByGridMax(
          Seq("gameId", "playId", "frameId", "nflId"))(influenced)
      else influenced
    val aggd = normalized
      .groupBy(keys.map(col): _*)
      .agg(sum(col("influence") * col("sgn")).as("control_sum"))
    // restore cells whose every contribution was pruned: their sum is 0
    // (→ control = 0.5), they must not vanish from the surface
    val frames = k.select("gameId", "playId", "frameId").distinct()
    frames.crossJoin(broadcast(grid))
      .join(aggd, keys, "left")
      .na.fill(0.0, Seq("control_sum"))
      .withColumn("control", lit(1.0) / (lit(1.0) + exp(col("control_sum"))))
  }
}
