package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Player-motion kinematics (reference: Field Control.R:31-44, 247-292;
  * SURVEY.md §2.I3-I4, I12). Pure `Column` arithmetic — stays inside
  * whole-stage codegen, no UDFs.
  */
object Kinematics {

  val MaxSpeed = 13.0          // s_max, Field Control.R:247
  val MinRadius = 4.0          // Field Control.R:279
  val MaxRadius = 10.0         // Field Control.R:280
  val MaxDistFromBall = 20.0   // Field Control.R:281
  val ProjectionSeconds = 0.5  // next-location horizon, Field Control.R:247-267

  /** I3/I4/I12 (Field Control.R:31-44): direction (degrees) + speed →
    * velocity components and velocity angle. The reference NaN-guards
    * `atan(v_y/v_x)` (`ifelse(is.nan(v_theta), 0, ...)`, Field
    * Control.R:36-37); we guard the division itself — 0/0 → 0 (the
    * reference's NaN branch) and y/0 → ±π/2 (R's atan(±Inf)) — so the
    * expression never divides by zero and matches engines whose x/0 is
    * NULL rather than ±Inf (e.g. the DuckDB oracle).
    */
  def withVelocity(df: DataFrame): DataFrame =
    df.withColumn("dir_rad", radians(col("dir")))
      .withColumn("v_x", sin(col("dir_rad")) * col("s"))
      .withColumn("v_y", cos(col("dir_rad")) * col("s"))
      .withColumn("v_theta",
        when(col("v_x") === 0.0 && col("v_y") === 0.0, 0.0)
          .when(col("v_x") === 0.0, signum(col("v_y")) * lit(math.Pi) / 2.0)
          .otherwise(atan(col("v_y") / col("v_x"))))

  /** I12 (Field Control.R:247-267): speed ratio and projected next
    * location `ProjectionSeconds` ahead.
    */
  def withProjection(df: DataFrame): DataFrame =
    df.withColumn("s_ratio", col("s") / lit(MaxSpeed))
      .withColumn("next_x", col("x") + col("v_x") * lit(ProjectionSeconds))
      .withColumn("next_y", col("y") + col("v_y") * lit(ProjectionSeconds))

  /** I2/I6 + quirk Q8 (Field Control.R:277-290): radius of influence.
    * Implements the code's *actual* formula (cubic over un-cubed
    * max-distance — SURVEY.md §2.M Q8: it saturates early and the clamp
    * dominates), since that is the observable behavior:
    * r = least(min_r + d³ · (max_r − min_r) / max_dist, max_r).
    */
  def radiusOfInfluence(dist: Column): Column =
    least(
      lit(MinRadius) + pow(dist, 3) * lit((MaxRadius - MinRadius) / MaxDistFromBall),
      lit(MaxRadius))

  /** The Gaussian's radius and scaling axes (Field Control.R:250,
    * 277-292, 304-311): `r` = [[radiusOfInfluence]] at `distFromBall`,
    * S = diag(r·(1+s_ratio), r·(1−s_ratio)) as `sx`/`sy`, with the
    * UNSQUARED speed ratio s/13 of [[withProjection]] and no halving.
    */
  def withAxes(df: DataFrame, distFromBall: Column): DataFrame =
    df.withColumn("r", radiusOfInfluence(distFromBall))
      .withColumn("sx", col("r") * (lit(1.0) + col("s_ratio")))
      .withColumn("sy", col("r") * (lit(1.0) - col("s_ratio")))

  /** I1 (Tutorial.R:198-203 and 3 other sites): Euclidean distance —
    * the single most-used expression in the reference.
    */
  def dist(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    sqrt(pow(x1 - x2, 2) + pow(y1 - y2, 2))
}
