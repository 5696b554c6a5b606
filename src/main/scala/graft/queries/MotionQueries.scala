package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.ops.{FieldControl, Kinematics}

/** The reference's numeric core — kinematics and the bivariate-Gaussian
  * field-control model (SURVEY.md §3.2) — transposed onto the driver
  * testdata: player-like rows are derived deterministically from table
  * columns (fmod/abs arithmetic, identical in Spark and DuckDB), then the
  * exact reference math runs on them. Transcendental outputs are rounded
  * to 6 decimals for oracle parity (JVM vs libm last-ulp).
  */
object MotionQueries extends QueryModule {

  /** Deterministic pseudo-tracking columns from supplier (22-player
    * analog: every supplier is a "player").
    */
  private def supplierPlayers(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(
      col("s_suppkey"),
      (abs(col("s_acctbal")) % 120.0).as("x"),
      (abs(col("s_acctbal") * 7.3) % (160.0 / 3.0)).as("y"),
      (abs(col("s_acctbal") * 0.13) % 13.0).as("s"),
      (abs(col("s_acctbal") * 3.7) % 360.0).as("dir"),
      (abs(col("s_acctbal") * 1.9) % 20.0).as("d_ball"),
      when(col("s_suppkey") % 2 === 0, 1.0).otherwise(-1.0).as("sgn"))

  // The DuckDB spellings of Kinematics and FieldControl, shared by the
  // field-control oracles (q13, q14 and q159 here, q214 in
  // CapstoneQueries). Each is a select-list or FROM fragment; the CTE
  // names and the columns around them stay in the queries.

  /** Kinematics.withVelocity's velocity components. */
  private[queries] val velocitySql = "sin(radians(dir)) * s AS v_x, cos(radians(dir)) * s AS v_y"

  /** Kinematics.withVelocity's v_theta, its divisions guarded. */
  private val thetaSql = """CASE WHEN v_x = 0 AND v_y = 0 THEN 0.0
                      WHEN v_x = 0 THEN sign(v_y) * pi() / 2.0
                      ELSE atan(v_y / v_x) END"""

  /** Kinematics.radiusOfInfluence at distance `dBall` from the ball. */
  private def radiusSql(dBall: String): String = s"least(4.0 + pow($dBall, 3) * 0.3, 10.0)"

  /** v_theta, Kinematics.withProjection (s_ratio, next_x, next_y at
    * 0.5 s) and the radius `r` at distance `dBall`.
    */
  private[queries] def projectionSql(dBall: String): String = s"""$thetaSql AS v_theta,
                 s / 13.0 AS s_ratio,
                 x + v_x * 0.5 AS next_x, y + v_y * 0.5 AS next_y,
                 ${radiusSql(dBall)} AS r"""

  /** The Gaussian's axes: unsquared s_ratio, no halving (Kinematics.withAxes). */
  private[queries] val axesSql = "r * (1.0 + s_ratio) AS sx, r * (1.0 - s_ratio) AS sy"

  /** FieldControl.fieldGrid: the nx × ny grid (grid_x, grid_y). */
  private[queries] def gridSql(nx: Int, ny: Int): String = s"""
          SELECT gx.i * (120.0 / $nx) AS grid_x, gy.j * (160.0 / 3.0 / $ny) AS grid_y
          FROM generate_series(0, ${nx - 1}) gx(i) CROSS JOIN generate_series(0, ${ny - 1}) gy(j)"""

  /** FieldControl.gaussianInfluence of (v_theta, sx, sy, next_x, next_y) at a grid cell. */
  private[queries] val influenceSql = """exp(-0.5 * (
                     (sx*sx*sin(v_theta)*sin(v_theta) + sy*sy*cos(v_theta)*cos(v_theta)) * (grid_x-next_x) * (grid_x-next_x)
                   - 2.0 * ((sx*sx - sy*sy)*sin(v_theta)*cos(v_theta)) * (grid_x-next_x) * (grid_y-next_y)
                   + (sx*sx*cos(v_theta)*cos(v_theta) + sy*sy*sin(v_theta)*sin(v_theta)) * (grid_y-next_y) * (grid_y-next_y)
                 ) / (sx*sx*sy*sy)) AS influence"""

  def queries: Seq[(String, NamedQuery)] = Seq(

    // ---------------------------------------------------------------- q13
    // I1-I8/I12 + I3/I4 (Field Control.R:31-44, 277-292): full kinematics
    // chain — radians, velocity components, atan NaN guard, cubic radius
    // with clamp — as pure codegen'd column math over 600k rows at sf0.1.
    "q13_kinematics" -> NamedQuery(
      fn = (s, d) => {
        val base = Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          (abs(col("l_extendedprice")) % 120.0).as("x"),
          (abs(col("l_extendedprice") * 0.44) % (160.0 / 3.0)).as("y"),
          (col("l_quantity") % 13.0).as("s"),
          ((col("l_tax") * 3600.0) % 360.0).as("dir"),
          ((col("l_discount") * 100.0) % 20.0).as("d_ball"))
        val k = Kinematics.withVelocity(base)
        k.withColumn("radius", Kinematics.radiusOfInfluence(col("d_ball")))
          .select(
            col("l_orderkey"), col("l_linenumber"),
            round(col("v_x"), 6).as("v_x"),
            round(col("v_y"), 6).as("v_y"),
            round(col("v_theta"), 6).as("v_theta"),
            round(col("radius"), 6).as("radius"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT l_orderkey, l_linenumber,
                 fmod(l_quantity, 13.0) AS s,
                 fmod(l_tax * 3600.0, 360.0) AS dir,
                 fmod(l_discount * 100.0, 20.0) AS d_ball
          FROM lineitem),
        k AS (
          SELECT *, $velocitySql
          FROM base)
        SELECT l_orderkey, l_linenumber,
               round(v_x, 6) + 0.0 AS v_x, round(v_y, 6) + 0.0 AS v_y,
               round($thetaSql, 6) + 0.0 AS v_theta,
               round(${radiusSql("d_ball")}, 6) AS radius
        FROM k
        ORDER BY l_orderkey, l_linenumber"""),
      doc = "I1-I8/I12 kinematics chain (Field Control.R:31-44,277-292)"),

    // ---------------------------------------------------------------- q14
    // I11/C6/C7/D3/I5 (Field Control.R:294-378): the field-control model
    // end-to-end — grid crossJoin (broadcast), closed-form bivariate
    // Gaussian, team-signed per-cell sum, sigmoid.
    "q14_field_control" -> NamedQuery(
      fn = (s, d) => {
        val players0 = supplierPlayers(s, d)
        val k = Kinematics.withAxes(
          Kinematics.withProjection(Kinematics.withVelocity(players0)), col("d_ball"))
        val grid = FieldControl.fieldGrid(s, 24, 12)
        val infl = k.crossJoin(broadcast(grid))
          .withColumn("influence", FieldControl.gaussianInfluence(
            col("grid_x"), col("grid_y"), col("next_x"), col("next_y"),
            col("v_theta"), col("sx"), col("sy")))
        FieldControl.teamControl(Seq("grid_x", "grid_y"), col("influence"), col("sgn"))(infl)
          .select(col("grid_x"), col("grid_y"), round(col("control"), 6).as("control"))
          .orderBy("grid_x", "grid_y")
      },
      oracle = Some(s"""
        WITH p AS (
          SELECT s_suppkey,
                 fmod(abs(s_acctbal), 120.0) AS x,
                 fmod(abs(s_acctbal * 7.3), 160.0 / 3.0) AS y,
                 fmod(abs(s_acctbal * 0.13), 13.0) AS s,
                 fmod(abs(s_acctbal * 3.7), 360.0) AS dir,
                 fmod(abs(s_acctbal * 1.9), 20.0) AS d_ball,
                 CASE WHEN s_suppkey % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
          FROM supplier),
        k AS (
          SELECT *, $velocitySql
          FROM p),
        k2 AS (
          SELECT *, ${projectionSql("d_ball")}
          FROM k),
        k3 AS (
          SELECT *, $axesSql
          FROM k2),
        g AS (${gridSql(24, 12)}),
        e AS (
          SELECT grid_x, grid_y, sgn, $influenceSql
          FROM k3 CROSS JOIN g)
        SELECT grid_x, grid_y, round(1.0 / (1.0 + exp(control_sum)), 6) AS control
        FROM (SELECT grid_x, grid_y, sum(influence * sgn) AS control_sum
              FROM e GROUP BY 1, 2)
        ORDER BY grid_x, grid_y"""),
      doc = "I11/C7/D3/I5 field control model (Field Control.R:294-378)"),

    // ---------------------------------------------------------------- q159
    // The PRODUCTION field-control path through the gate: the full
    // FieldControlPipeline.playControl (standardize → ball attach →
    // kinematics → 120×53 grid fan-out → signed per-cell sum → sigmoid)
    // with Mahalanobis pruning ON (12σ — SURVEY §4's 10-50× fan-out cut
    // at 100 TB). The DuckDB oracle computes the UNPRUNED surface: at
    // 12σ every dropped term is < e⁻⁷² (≈5e-32), so pruned and full
    // sums are identical at the 6-decimal rounding — the oracle thereby
    // proves the pruning is result-safe, not just asserts it. Cells
    // whose every contribution prunes are restored at control_sum = 0
    // (control 0.5), which the full oracle reproduces as a sum of
    // sub-1e-30 terms. Plan shape pinned in PlanAuditSpec: the
    // maha_sq filter sits BELOW the per-cell aggregate, so the exp and
    // the shuffle see only surviving rows.
    "q159_field_control_pruned" -> NamedQuery(
      fn = (s, d) => {
        val sup = Tables.supplier(s, d).select(
          col("s_suppkey"),
          (abs(col("s_acctbal")) % 120.0).as("x"),
          (abs(col("s_acctbal") * 7.3) % (160.0 / 3.0)).as("y"),
          (abs(col("s_acctbal") * 0.13) % 13.0).as("s"),
          (abs(col("s_acctbal") * 3.7) % 360.0).as("dir"))
        val players = sup.select(
          lit(1L).as("gameId"), lit(1L).as("playId"),
          (col("s_suppkey") % 5 + 1).as("frameId"),
          concat(lit("P"), col("s_suppkey")).as("displayName"),
          when(col("s_suppkey") % 2 === 0, "home").otherwise("away").as("team"),
          lit("left").as("playDirection"),
          col("x"), col("y"), col("s"), col("dir"))
        val footballs = players.select("gameId", "playId", "frameId").distinct()
          .withColumn("displayName", lit("Football"))
          .withColumn("team", lit("football"))
          .withColumn("playDirection", lit("left"))
          .withColumn("x", lit(55.0)).withColumn("y", lit(20.0))
          .withColumn("s", lit(0.0)).withColumn("dir", lit(0.0))
        graft.football.FieldControlPipeline.playControl(
            s, players.unionByName(footballs),
            nx = 120, ny = 53, pruneMahalanobis = Some(12.0))
          .select(col("frameId"), col("grid_x"), col("grid_y"),
            round(col("control"), 6).as("control"))
          .orderBy("frameId", "grid_x", "grid_y")
      },
      oracle = Some(s"""
        WITH sup AS (
          SELECT s_suppkey,
                 fmod(abs(s_acctbal), 120.0) AS x0,
                 fmod(abs(s_acctbal * 7.3), 160.0 / 3.0) AS y0,
                 fmod(abs(s_acctbal * 0.13), 13.0) AS s,
                 fmod(abs(s_acctbal * 3.7), 360.0) AS dir,
                 (s_suppkey % 5) + 1 AS frameId,
                 CASE WHEN s_suppkey % 2 = 0 THEN -1.0 ELSE 1.0 END AS sgn
          FROM supplier),
        p AS (
          SELECT *, 120.0 - x0 AS x, 160.0 / 3.0 - y0 AS y,
                 120.0 - 55.0 AS xF, 160.0 / 3.0 - 20.0 AS yF
          FROM sup),
        k AS (
          SELECT *, $velocitySql,
                 sqrt(pow(x - xF, 2) + pow(y - yF, 2)) AS d_ball
          FROM p),
        k2 AS (
          SELECT *, ${projectionSql("d_ball")}
          FROM k),
        k3 AS (SELECT *, $axesSql FROM k2),
        g AS (${gridSql(120, 53)}),
        e AS (
          SELECT frameId, grid_x, grid_y, sgn, $influenceSql
          FROM k3 CROSS JOIN g)
        SELECT frameId, grid_x, grid_y,
               round(1.0 / (1.0 + exp(control_sum)), 6) AS control
        FROM (SELECT frameId, grid_x, grid_y, sum(influence * sgn) AS control_sum
              FROM e GROUP BY 1, 2, 3)
        ORDER BY frameId, grid_x, grid_y"""),
      doc = "playControl with 12-sigma Mahalanobis pruning at the full 120x53 grid, oracle-proved result-safe (Field Control.R:344-352; SURVEY §4)")
  )
}
