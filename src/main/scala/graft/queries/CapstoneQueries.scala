package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.football.{BdbSchemas, CoveragePipeline, FieldControlPipeline}

/** The reference-program CAPSTONES: each of the reference's three
  * scripts composed END-TO-END as one lazy plan over BDB-shaped CSV
  * fixtures and hash-matched against a DuckDB CTE chain that recomputes
  * the same program from first principles.
  *
  *  - q211 — Tutorial.R:125-203 (round-10): CSV scan (A1/A3) →
  *    standardize-once (B1/Q1) → games⋈plays⋈tracking broadcast joins
  *    (C1/C2) → per-frame football flag + ball coordinates as window
  *    aggregates (D7/D8/E3) → pass-arrival event filter (B8) →
  *    Euclidean distance to the ball (I1).
  *  - q214 — Field Control.R:9-23, 223-378 (round-11): pick-play
  *    (B7/B10/B12 + F1 sort + E5 slice-7) → kinematics (I3/I4/I12) →
  *    ball attach (C4-as-window) → cubic radius (I2/I6) → 120×53 grid
  *    fan-out (C6/C7, broadcast) → closed-form bivariate Gaussian (I11)
  *    → grid-max normalize (E3, Field Control.R:346-347) → team
  *    sign-flip + per-cell sum + sigmoid (B3/D3/I5).
  *  - q215 — all coverages.R:118-326 (round-11): LOS attach → personnel
  *    substring casts (I9/I10) → coverage-label join (Q6-corrected
  *    explicit keys) → arrival ball distance → defensive-position
  *    filter → 8-measure × 7-position wide pivot (H1/Q5) → md5 split
  *    scaffold (F4, the K1 fit boundary — q167 gates the fit side) →
  *    deterministic per-frame coverage surrogate at the ML boundary →
  *    per-play mode (D4) → coverage-EPA summary (D1/D2/D9 + Q7).
  *
  * Every stage is the operator the §2 rows gate individually; these
  * entries prove the COMPOSITIONS (the football analogs of q192's
  * LLM-pipeline capstone).
  *
  * The fixtures are synthesized deterministically from integer ranges +
  * md5 (both engines derive identical values — PARITY.md rule 7), sized
  * from the events table (plays-per-game = max(14, |events|/100), one
  * bounded 1-row pull, mirrored as a scalar subquery; the floor of 14
  * guarantees q214's "7th-biggest play" exists even at sf0.001's
  * minimum corpus), STAGED AS CSV (the reference's actual input format,
  * including multi-part files for the A3 glob union and football-less
  * frames for the B14 branch), and read back through BdbSchemas'
  * explicit StructTypes. Numeric columns are k/100.0 (or k/4.0)
  * doubles, so the CSV text round-trip is value-exact (Double.toString
  * shortest-repr) and matches DuckDB's int/int division bit-for-bit.
  * Speeds are bounded at 9.99 < s_max = 13 so the scaling minor axis
  * sy = r(1−s_ratio) ≥ 0.92 — every player's grid-max influence stays
  * ≥ e⁻⁴³, far above double underflow, which keeps the E3 grid-max
  * normalization well-defined on both engines (see q214).
  *
  * Scale posture: identical to the production pipelines — dims (games,
  * plays, coverages) broadcast; the q211/q215 shuffles are per-frame
  * windows keyed by (gameId, playId, frameId), which shard evenly at
  * any corpus size; q214's grid side is a broadcast few-KB table and
  * its pick-play is two TakeOrderedAndProject top-k steps, never a
  * global window.
  */
object CapstoneQueries extends QueryModule {
  import MotionQueries.{axesSql, gridSql, influenceSql, projectionSql, velocitySql}

  /** Warmup hook (Bench): stage the BDB CSV fixtures up front so no
    * capstone's FIRST timed pass pays the one-time synthesis+write —
    * staging is environment setup (the reference's CSVs exist on disk
    * before its scripts run), not part of any query's cost. Idempotent
    * via `TempPaths.buildOnce`.
    */
  def stageFixtures(s: SparkSession, d: String): Unit = { bdbFixtures(s, d); () }

  /** Synthesize + stage the games/plays/tracking/coverages CSVs once per
    * (session, dataset) with `TempPaths.buildOnce`. Returns the dir.
    */
  private def bdbFixtures(s: SparkSession, d: String): java.io.File =
    TempPaths.buildOnce(s, "q211_bdb_fixtures", Seq(d)) { dir =>
      val p = math.max(14L, Tables.events(s, d).count() / 100)

      val games = s.range(1, 3).select(
        col("id").as("gameId"),
        lit("2021-01-01").as("gameDate"),
        lit("12:00:00").as("gameTimeEastern"),
        when(col("id") === 1, "ALPH").otherwise("CHAR").as("homeTeamAbbr"),
        when(col("id") === 1, "BRAV").otherwise("DELT").as("visitorTeamAbbr"),
        lit(1).as("week"))
      games.coalesce(1).write.option("header", "true").mode("overwrite")
        .csv(new java.io.File(dir, "games").getAbsolutePath)

      val plays = s.range(0, 2L * p)
        .withColumn("gameId", expr(s"id div $p") + 1)
        .withColumn("playId", col("id") % p + 1)
        .withColumn("homeAbbr", when(col("gameId") === 1, "ALPH").otherwise("CHAR"))
        .withColumn("visitorAbbr", when(col("gameId") === 1, "BRAV").otherwise("DELT"))
        .select(
          col("gameId"), col("playId"),
          // every play carries the pick-play QB token; the B7 possession
          // filter does the scoping (q214)
          lit("deep pass by M.Stafford complete").as("playDescription"),
          lit(1).as("quarter"), lit(1).as("down"), lit(10).as("yardsToGo"),
          when(col("playId") % 2 === 0, col("homeAbbr")).otherwise(col("visitorAbbr"))
            .as("possessionTeam"),
          lit("play_type_pass").as("playType"),
          lit(null).cast("string").as("yardlineSide"),
          lit(25).as("yardlineNumber"),
          lit("SHOTGUN").as("offenseFormation"),
          lit("1 RB, 1 TE, 3 WR").as("personnelO"),
          lit(6).as("defendersInTheBox"),
          lit(4).as("numberOfPassRushers"),
          // "d DL, l LB, b DB" with d+l+b = 11, all single digits — the
          // I9/I10 substring-cast layout (all coverages.R:141-148)
          concat((col("playId") % 4 + 2).cast("string"), lit(" DL, "),
            (col("playId") % 3 + 1).cast("string"), lit(" LB, "),
            (lit(8) - col("playId") % 4 - col("playId") % 3).cast("string"),
            lit(" DB")).as("personnelD"),
          lit("TRADITIONAL").as("typeDropback"),
          lit(0).as("preSnapVisitorScore"), lit(0).as("preSnapHomeScore"),
          lit("15:00").as("gameClock"),
          lit(35).as("absoluteYardlineNumber"),
          lit(null).cast("string").as("penaltyCodes"),
          lit(null).cast("string").as("penaltyJerseyNumbers"),
          lit("C").as("passResult"),
          // varied, all > 25 so the pick-play result filter keeps every
          // ALPH play and the E5 slice is the real selector (q214)
          (col("playId") * 37 % 60 + 26).cast("int").as("offensePlayResult"),
          lit(5).as("playResult"),
          // exact-quarter EPA values: CSV round-trip and cross-engine
          // double sums are exact (q215's def_epa means)
          ((col("playId") % 9 - 4).cast("double") / 4.0).as("epa"),
          lit(false).as("isDefensivePI"))
      plays.coalesce(1).write.option("header", "true").mode("overwrite")
        .csv(new java.io.File(dir, "plays").getAbsolutePath)

      // per-play coverage labels (all coverages.R:156-163's
      // coverages_week1.csv analog), deterministic from the keys
      val coverages = s.range(0, 2L * p)
        .withColumn("gameId", expr(s"id div $p") + 1)
        .withColumn("playId", col("id") % p + 1)
        .withColumn("m", (col("playId") * 7 + col("gameId")) % 5)
        .select(col("gameId"), col("playId"),
          when(col("m") === 0, "Cover 1").when(col("m") === 1, "Cover 2")
            .when(col("m") === 2, "Cover 3").when(col("m") === 3, "Cover 4")
            .otherwise("Man Cover 2").as("coverage"))
      coverages.coalesce(1).write.option("header", "true").mode("overwrite")
        .csv(new java.io.File(dir, "coverages").getAbsolutePath)

      // tracking: 2 games × p plays × 12 frames × 9 entities (ball +
      // 4 home + 4 away); the ball row is DROPPED at frameId 11 so the
      // pipeline's football-less-frame branch (B14) is exercised.
      // Multi-part write (no coalesce) = the A3 weekly-glob shape.
      // Positions: each side carries CB/SS|FS/LB defenders so the H1
      // pivot sees collisions (two CBs per frame — Q5's min_by pin).
      val tracking = s.range(0, 2L * p * 108)
        .withColumn("ent", col("id") % 9)
        .withColumn("frameId", (expr("id div 9") % 12 + 1).cast("int"))
        .withColumn("playId", expr("id div 108") % p + 1)
        .withColumn("gameId", expr(s"id div ${108 * p}") + 1)
        .filter(!(col("ent") === 0 && col("frameId") === 11))
        .withColumn("k", md5(concat_ws("#",
          col("gameId"), col("playId"), col("frameId"), col("ent"))))
        .withColumn("h1", conv(substring(col("k"), 1, 8), 16, 10).cast("long"))
        .withColumn("h2", conv(substring(col("k"), 9, 8), 16, 10).cast("long"))
        .withColumn("h3", conv(substring(col("k"), 17, 8), 16, 10).cast("long"))
        .withColumn("h4", conv(substring(col("k"), 25, 8), 16, 10).cast("long"))
        .withColumn("nflId",
          when(col("ent") === 0, lit(null).cast("long"))
            .otherwise(col("gameId") * 1000 + col("ent")))
        .select(
          lit("t").as("time"),
          ((col("h1") % 12001).cast("double") / 100.0).as("x"),
          ((col("h2") % 5331).cast("double") / 100.0).as("y"),
          // s ∈ [0, 9.99] — strictly below s_max = 13 (see object doc)
          ((col("h3") % 1000).cast("double") / 100.0).as("s"),
          lit(0.0).as("a"), lit(0.0).as("dis"), lit(0.0).as("o"),
          ((col("h4") % 36000).cast("double") / 100.0).as("dir"),
          when(col("frameId") === 8 && col("playId") % 4 === 0, "pass_arrived")
            .when(col("frameId") === 8 && col("playId") % 4 === 1, "pass_outcome_caught")
            .when(col("frameId") === 8 && col("playId") % 4 === 2, "pass_outcome_incomplete")
            // a second arrival frame on every 8th play: q215's per-play
            // mode (D4) sees real multiplicity, not 1-row groups
            .when(col("frameId") === 9 && col("playId") % 8 === 0, "pass_arrived")
            .otherwise("None").as("event"),
          col("nflId"),
          when(col("ent") === 0, "Football")
            .otherwise(concat(lit("P"), col("nflId"))).as("displayName"),
          col("ent").cast("int").as("jerseyNumber"),
          when(col("ent") === 0, "X")
            .when(col("ent") === 1, "QB").when(col("ent") === 2, "WR")
            .when(col("ent") === 3, "CB").when(col("ent") === 4, "SS")
            .when(col("ent") === 5, "CB").when(col("ent") === 6, "FS")
            .when(col("ent") === 7, "LB").otherwise("WR").as("position"),
          col("frameId"),
          when(col("ent") === 0, "football")
            .when(col("ent") <= 4, "home").otherwise("away").as("team"),
          col("gameId"), col("playId"),
          when((col("gameId") + col("playId")) % 2 === 0, "left")
            .otherwise("right").as("playDirection"),
          lit(null).cast("string").as("route"))
      tracking.write.option("header", "true").mode("overwrite")
        .csv(new java.io.File(dir, "tracking").getAbsolutePath)
    }

  /** The shared fixture-reconstruction CTE head every capstone oracle
    * reuses: plays-per-game scalar, the tracking relation with EVERY
    * derived column (mirrors `bdbFixtures`' tracking exactly), and the
    * plays key relation.
    */
  private val bdbSqlHead = """
        WITH par AS (
          SELECT greatest(14, (SELECT COUNT(*) FROM events) // 100) AS p),
        ids AS (
          SELECT unnest(range(0, 2 * p * 108)) AS i, p FROM par),
        tr0 AS (
          SELECT i % 9 AS ent,
                 CAST((i // 9) % 12 + 1 AS INTEGER) AS frameId,
                 (i // 108) % p + 1 AS playId,
                 i // (108 * p) + 1 AS gameId
          FROM ids),
        tr1 AS (
          SELECT *,
                 md5(CAST(gameId AS VARCHAR) || '#' || CAST(playId AS VARCHAR)
                     || '#' || CAST(frameId AS VARCHAR) || '#' || CAST(ent AS VARCHAR)) AS k
          FROM tr0
          WHERE NOT (ent = 0 AND frameId = 11)),
        tr AS (
          SELECT gameId, playId, frameId, ent,
                 (CAST('0x' || substr(k, 1, 8) AS BIGINT) % 12001) / 100 AS x,
                 (CAST('0x' || substr(k, 9, 8) AS BIGINT) % 5331) / 100 AS y,
                 (CAST('0x' || substr(k, 17, 8) AS BIGINT) % 1000) / 100 AS s,
                 (CAST('0x' || substr(k, 25, 8) AS BIGINT) % 36000) / 100 AS dir,
                 CASE WHEN frameId = 8 AND playId % 4 = 0 THEN 'pass_arrived'
                      WHEN frameId = 8 AND playId % 4 = 1 THEN 'pass_outcome_caught'
                      WHEN frameId = 8 AND playId % 4 = 2 THEN 'pass_outcome_incomplete'
                      WHEN frameId = 9 AND playId % 8 = 0 THEN 'pass_arrived'
                      ELSE 'None' END AS event,
                 CASE WHEN ent = 0 THEN NULL
                      ELSE gameId * 1000 + ent END AS nflId,
                 CASE WHEN ent = 0 THEN 'Football'
                      ELSE 'P' || CAST(gameId * 1000 + ent AS VARCHAR) END AS displayName,
                 CASE WHEN ent = 0 THEN 'X'
                      WHEN ent = 1 THEN 'QB' WHEN ent = 2 THEN 'WR'
                      WHEN ent = 3 THEN 'CB' WHEN ent = 4 THEN 'SS'
                      WHEN ent = 5 THEN 'CB' WHEN ent = 6 THEN 'FS'
                      WHEN ent = 7 THEN 'LB' ELSE 'WR' END AS position,
                 CASE WHEN ent = 0 THEN 'football'
                      WHEN ent <= 4 THEN 'home' ELSE 'away' END AS team,
                 CASE WHEN (gameId + playId) % 2 = 0 THEN 'left' ELSE 'right' END AS playDirection
          FROM tr1),
        playkeys AS (
          SELECT i // p + 1 AS gameId, i % p + 1 AS playId
          FROM (SELECT unnest(range(0, 2 * p)) AS i, p FROM par))"""

  private def fixturePath(dir: java.io.File, name: String): String =
    new java.io.File(dir, name).getAbsolutePath

  def queries: Seq[(String, NamedQuery)] = Seq(

    // --------------------------------------------------------------- q211
    // The Tutorial.R capstone — see the object scaladoc. Output: every
    // player-and-ball row of every pass-arrival frame with its distance
    // to the football, plus the standardized coordinates and attached
    // ball coordinates UNROUNDED (single IEEE ops on identical inputs,
    // PARITY.md rule 2); the sqrt(pow..) distance chain rounds to 6
    // (rule 4's accepted transcendental residual, the q13/q159 idiom).
    "q211_bdb_capstone" -> NamedQuery(
      fn = (s, d) => {
        val dir = bdbFixtures(s, d)
        val tracking = BdbSchemas.loadTracking(s, fixturePath(dir, "tracking") + "/*.csv")
        val plays = BdbSchemas.loadPlays(s, fixturePath(dir, "plays"))
        val games = BdbSchemas.loadGames(s, fixturePath(dir, "games"))
        val out = CoveragePipeline.distanceAtArrival(
          CoveragePipeline.withBall(
            CoveragePipeline.enrich(tracking, plays, games)))
        out.select(
            col("gameId"), col("playId"), col("frameId"),
            col("displayName"), col("sideOfBall"), col("event"),
            col("x"), col("y"), col("xFootball"), col("yFootball"),
            round(col("distToFootball"), 6).as("dist_to_ball"))
          .orderBy("gameId", "playId", "frameId", "displayName")
      },
      oracle = Some(bdbSqlHead + """,
        games AS (
          SELECT 1 AS gameId, 'ALPH' AS homeTeamAbbr, 'BRAV' AS visitorTeamAbbr
          UNION ALL
          SELECT 2, 'CHAR', 'DELT'),
        playdim AS (
          SELECT p.gameId, p.playId, gm.homeTeamAbbr, gm.visitorTeamAbbr,
                 CASE WHEN p.playId % 2 = 0 THEN gm.homeTeamAbbr
                      ELSE gm.visitorTeamAbbr END AS possessionTeam
          FROM playkeys p JOIN games gm ON gm.gameId = p.gameId),
        std AS (
          SELECT t.gameId, t.playId, t.frameId, t.displayName, t.event,
                 CASE WHEN t.playDirection = 'left' THEN 120 - t.x ELSE t.x END AS x,
                 CASE WHEN t.playDirection = 'left' THEN 160 / 3 - t.y ELSE t.y END AS y,
                 CASE WHEN (t.team = 'home' AND pd.possessionTeam = pd.homeTeamAbbr)
                        OR (t.team = 'away' AND pd.possessionTeam = pd.visitorTeamAbbr)
                      THEN 'offense'
                      WHEN t.team = 'football' THEN 'football'
                      ELSE 'defense' END AS sideOfBall
          FROM tr t
          JOIN playdim pd ON pd.gameId = t.gameId AND pd.playId = t.playId),
        flags AS (
          SELECT *,
                 SUM(CASE WHEN displayName = 'Football' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY gameId, playId, frameId) > 0 AS footballInPlay,
                 MAX(CASE WHEN displayName = 'Football' THEN x END)
                   OVER (PARTITION BY gameId, playId, frameId) AS xFootball,
                 MAX(CASE WHEN displayName = 'Football' THEN y END)
                   OVER (PARTITION BY gameId, playId, frameId) AS yFootball
          FROM std)
        SELECT gameId, playId, frameId, displayName, sideOfBall, event,
               x, y, xFootball, yFootball,
               round(sqrt(pow(x - xFootball, 2) + pow(y - yFootball, 2)), 6) AS dist_to_ball
        FROM flags
        WHERE footballInPlay
          AND event IN ('pass_outcome_caught', 'pass_arrived',
                        'pass_outcome_incomplete', 'pass_outcome_interception',
                        'pass_outcome_touchdown')
        ORDER BY gameId, playId, frameId, displayName"""),
      doc = "Tutorial.R capstone: CSV scan -> standardize-once -> broadcast dims -> per-frame ball window -> arrival filter -> distance, one composed lazy plan on BDB-shaped CSV fixtures (reference program)"),

    // --------------------------------------------------------------- q214
    // The Field Control.R capstone (round-10 verdict task 4): the
    // second reference script composed end-to-end. Pick the 7th-biggest
    // qualifying play (Field Control.R:9-23 — possession B7, regex B10,
    // result B12, sort F1, slice(7) E5 — as two TakeOrderedAndProject
    // top-k steps feeding a 1-row broadcast dim, never a global window
    // and never a driver pull), scope tracking to it, then run the FULL
    // production pipeline (FieldControlPipeline.playControl):
    // standardize → ball attach → kinematics → radius → 120×53 grid
    // fan-out with 12σ Mahalanobis pruning → E3 grid-max normalization
    // (gridNormalize = true: influence / max over the player's evaluated
    // grid, Field Control.R:346-347's exact form — the dmvnorm constant
    // cancels in the division) → home-negative signed per-cell sum →
    // sigmoid. The DuckDB oracle recomputes the UNPRUNED normalized
    // surface: the grid-max cell always survives pruning (maha ≤ ~85 at
    // the fixtures' s ≤ 9.99 bound, far inside 144), so each pruned
    // player term is ≤ e^-72 raw against a grid-max ≥ e^-43, i.e.
    // ≤ e^-29 ≈ 2.5e-13 after normalization; with ≤ 8 players per cell
    // the pruned-vs-unpruned gap per cell is ≤ 8·e^-29 ≈ 2.0e-12
    // (< 1e-11 with headroom) — invisible at the 6-decimal round,
    // proving the pruning result-safe under normalization too.
    "q214_field_control_capstone" -> NamedQuery(
      fn = (s, d) => {
        val dir = bdbFixtures(s, d)
        val tracking = BdbSchemas.loadTracking(s, fixturePath(dir, "tracking") + "/*.csv")
        val plays = BdbSchemas.loadPlays(s, fixturePath(dir, "plays"))
        val topSeven = plays
          .filter(col("possessionTeam") === "ALPH" &&
            col("playDescription").rlike("M\\.Stafford") &&
            col("offensePlayResult") > 25)
          .orderBy(col("offensePlayResult").desc, col("playId").asc)
          .limit(7)
        // slice(7) = the LAST of the top 7 in rank order
        val picked = topSeven
          .orderBy(col("offensePlayResult").asc, col("playId").desc)
          .limit(1)
          .select("gameId", "playId")
        val scoped = tracking.join(broadcast(picked), Seq("gameId", "playId"))
        FieldControlPipeline.playControl(s, scoped, nx = 120, ny = 53,
            pruneMahalanobis = Some(12.0), gridNormalize = true)
          .select(col("frameId"), col("grid_x"), col("grid_y"),
            round(col("control"), 6).as("control"))
          .orderBy("frameId", "grid_x", "grid_y")
      },
      oracle = Some(bdbSqlHead + s""",
        picked AS (
          SELECT gameId, playId FROM (
            SELECT gameId, playId, (playId * 37) % 60 + 26 AS res
            FROM playkeys
            WHERE gameId = 1 AND playId % 2 = 0
            ORDER BY res DESC, playId ASC LIMIT 7)
          ORDER BY res ASC, playId DESC LIMIT 1),
        sp AS (
          SELECT t.frameId, t.nflId, t.team, t.s, t.dir,
                 CASE WHEN t.playDirection = 'left' THEN 120 - t.x ELSE t.x END AS x,
                 CASE WHEN t.playDirection = 'left' THEN 160 / 3 - t.y ELSE t.y END AS y
          FROM tr t JOIN picked pk
            ON t.gameId = pk.gameId AND t.playId = pk.playId),
        wb AS (
          SELECT *,
                 MAX(CASE WHEN team = 'football' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY frameId) AS fb,
                 MAX(CASE WHEN team = 'football' THEN x END)
                   OVER (PARTITION BY frameId) AS xF,
                 MAX(CASE WHEN team = 'football' THEN y END)
                   OVER (PARTITION BY frameId) AS yF
          FROM sp),
        k AS (
          SELECT frameId, nflId, team, x, y, s, xF, yF, $velocitySql
          FROM wb WHERE fb = 1 AND team <> 'football'),
        k2 AS (
          SELECT *, ${projectionSql("sqrt(pow(x - xF, 2) + pow(y - yF, 2))")}
          FROM k),
        k3 AS (
          SELECT *, $axesSql,
                 CASE WHEN team = 'home' THEN -1.0 ELSE 1.0 END AS sgn
          FROM k2),
        g AS (${gridSql(120, 53)}),
        e AS (
          SELECT frameId, nflId, grid_x, grid_y, sgn, $influenceSql
          FROM k3 CROSS JOIN g),
        n AS (
          SELECT frameId, grid_x, grid_y, sgn,
                 influence / MAX(influence)
                   OVER (PARTITION BY frameId, nflId) AS influence_n
          FROM e)
        SELECT frameId, grid_x, grid_y,
               round(1.0 / (1.0 + exp(control_sum)), 6) AS control
        FROM (SELECT frameId, grid_x, grid_y,
                     SUM(influence_n * sgn) AS control_sum
              FROM n GROUP BY 1, 2, 3)
        ORDER BY frameId, grid_x, grid_y"""),
      doc = "Field Control.R capstone: pick-play (B10/F1/E5 top-k) -> kinematics -> ball attach -> radius -> broadcast grid fan-out -> E3 grid-max normalize -> signed cell sum -> sigmoid, one composed lazy plan on BDB fixtures (reference program)"),

    // --------------------------------------------------------------- q215
    // The all coverages.R capstone (round-10 verdict task 5): the third
    // reference script composed end-to-end, stopping at the ML boundary
    // (the RF fit itself is q46/q167's seam — here a DETERMINISTIC
    // surrogate classifier over the pivot features stands in for the
    // forest, so the whole composition stays oracle-checkable):
    // standardize + dims (enrich) → LOS attach + midline distance →
    // personnel substring casts at the play grain (df_plays_imp_stuff,
    // all coverages.R:150-163) → coverage-label join with EXPLICIT keys
    // (Q6: the reference's by.x/by.y args are silently ignored) →
    // pass_arrived frames + ball distance → defensive-position filter →
    // 8-measure × 7-position wide pivot, min_by-pinned collisions
    // (H1/Q5 — the fixtures put TWO CBs in every frame) → md5 75/25
    // split scaffold (F4/q167's idiom — the frame the fit would consume)
    // → surrogate per-frame coverage from the four defensive
    // ball-distance features → per-play mode with pinned ties (D4) →
    // per-coverage summary: plays, mean EPA, data-derived freq (Q7),
    // personnel mean, split/label scaffold counts (D1/D2/D9).
    "q215_coverages_capstone" -> NamedQuery(
      fn = (s, d) => {
        val dir = bdbFixtures(s, d)
        val tracking = BdbSchemas.loadTracking(s, fixturePath(dir, "tracking") + "/*.csv")
        val plays = BdbSchemas.loadPlays(s, fixturePath(dir, "plays"))
        val games = BdbSchemas.loadGames(s, fixturePath(dir, "games"))
        val coverages = BdbSchemas.loadCoverages(s, fixturePath(dir, "coverages"))
        // df_plays_imp_stuff (I9/I10 substring casts at the play grain)
        val playsDim = CoveragePipeline.withPersonnel(plays)
          .select(col("gameId"), col("playId"), col("epa"), col("n_db"))
        val wide = CoveragePipeline.coverageFeatureMatrix(
          CoveragePipeline.withLineOfScrimmage(
            CoveragePipeline.enrich(tracking, plays, games)))
        // Q6-corrected label join + F4 split scaffold + the surrogate
        val scored = wide
          .join(broadcast(coverages), Seq("gameId", "playId"))
          .withColumn("split",
            when(conv(substring(md5(concat_ws("#", lit("graft-q215-123"),
              col("gameId"), col("playId"), col("frameId"))), 1, 2), 16, 10)
              .cast("int") < 192, "train").otherwise("test"))
          // Rounded BEFORE thresholding (ADVICE round 11): the four
          // addends carry the sqrt/pow cross-engine transcendental
          // residual (PARITY rule 4), so a boundary-straddling ulp
          // could flip a 100/200/300 label and cascade through the
          // mode into a hash mismatch. round(·, 6) is the same
          // backstop q211/q13 apply to this exact chain, mirrored in
          // the oracle's pred CTE.
          .withColumn("tot_db_dist",
            round(col("dist_from_ball_CB") + col("dist_from_ball_SS") +
              col("dist_from_ball_FS") + col("dist_from_ball_LB"), 6))
          .withColumn("predicted_coverage",
            when(col("tot_db_dist") < 100.0, "Cover 1")
              .when(col("tot_db_dist") < 200.0, "Cover 2")
              .when(col("tot_db_dist") < 300.0, "Cover 3")
              .otherwise("Cover 4"))
        val perPlay = CoveragePipeline.playCoverage(scored) // D4 mode
        val frameStats = scored.groupBy("gameId", "playId").agg(
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("train_frames_p"),
          sum(when(col("predicted_coverage") === col("coverage"), 1L).otherwise(0L))
            .as("label_matches_p"))
        val assembled = perPlay
          .join(frameStats, Seq("gameId", "playId"))
          .join(broadcast(playsDim), Seq("gameId", "playId"))
        val summary = CoveragePipeline.coverageSummary(assembled)
        val scaffold = assembled.groupBy("play_coverage").agg(
          avg(col("n_db")).as("avg_n_db"),
          sum(col("train_frames_p")).as("train_frames"),
          sum(col("label_matches_p")).as("label_matches"))
        summary.join(broadcast(scaffold), Seq("play_coverage"))
          .select(col("play_coverage"), col("plays"), col("def_epa"),
            col("avg_n_db"), col("freq"), col("train_frames"), col("label_matches"))
          .orderBy(col("plays").desc, col("play_coverage"))
      },
      oracle = Some(bdbSqlHead + """,
        pl AS (
          SELECT gameId, playId,
                 ((playId % 9) - 4) / 4.0 AS epa,
                 CAST(8 - playId % 4 - playId % 3 AS DOUBLE) AS n_db
          FROM playkeys),
        cov AS (
          SELECT gameId, playId,
                 CASE (playId * 7 + gameId) % 5
                      WHEN 0 THEN 'Cover 1' WHEN 1 THEN 'Cover 2'
                      WHEN 2 THEN 'Cover 3' WHEN 3 THEN 'Cover 4'
                      ELSE 'Man Cover 2' END AS coverage
          FROM playkeys),
        std AS (
          SELECT gameId, playId, frameId, nflId, team, position, event,
                 CASE WHEN playDirection = 'left' THEN 120 - x ELSE x END AS x,
                 CASE WHEN playDirection = 'left' THEN 160 / 3 - y ELSE y END AS y
          FROM tr),
        los AS (
          SELECT gameId, playId, x AS los FROM std
          WHERE team = 'football' AND frameId = 1),
        fr AS (
          SELECT *,
                 MAX(CASE WHEN team = 'football' THEN 1 ELSE 0 END)
                   OVER w AS fb,
                 MAX(CASE WHEN team = 'football' THEN x END) OVER w AS xF,
                 MAX(CASE WHEN team = 'football' THEN y END) OVER w AS yF
          FROM std
          WINDOW w AS (PARTITION BY gameId, playId, frameId)),
        arr AS (
          SELECT f.*,
                 f.x - l.los AS dist_from_los,
                 abs(f.y - 160.0 / 6) AS dist_from_mid,
                 sqrt(pow(f.x - f.xF, 2) + pow(f.y - f.yF, 2)) AS dist_from_ball
          FROM fr f JOIN los l USING (gameId, playId)
          WHERE f.fb = 1 AND f.event = 'pass_arrived'),
        feat AS (
          SELECT gameId, playId, frameId,
                 COALESCE(arg_min(dist_from_ball, nflId) FILTER (WHERE position = 'CB'), 0) AS db_cb,
                 COALESCE(arg_min(dist_from_ball, nflId) FILTER (WHERE position = 'SS'), 0) AS db_ss,
                 COALESCE(arg_min(dist_from_ball, nflId) FILTER (WHERE position = 'FS'), 0) AS db_fs,
                 COALESCE(arg_min(dist_from_ball, nflId) FILTER (WHERE position = 'LB'), 0) AS db_lb
          FROM arr
          WHERE position IN ('SS', 'FS', 'CB', 'LB', 'OLB', 'ILB', 'DB')
            AND xF IS NOT NULL AND yF IS NOT NULL
          GROUP BY 1, 2, 3),
        pred AS (
          SELECT f.gameId, f.playId, f.frameId, c.coverage,
                 CASE WHEN CAST('0x' || substr(md5('graft-q215-123' || '#'
                        || CAST(f.gameId AS VARCHAR) || '#' || CAST(f.playId AS VARCHAR)
                        || '#' || CAST(f.frameId AS VARCHAR)), 1, 2) AS INT) < 192
                      THEN 'train' ELSE 'test' END AS split,
                 CASE WHEN round(db_cb + db_ss + db_fs + db_lb, 6) < 100.0 THEN 'Cover 1'
                      WHEN round(db_cb + db_ss + db_fs + db_lb, 6) < 200.0 THEN 'Cover 2'
                      WHEN round(db_cb + db_ss + db_fs + db_lb, 6) < 300.0 THEN 'Cover 3'
                      ELSE 'Cover 4' END AS predicted_coverage
          FROM feat f JOIN cov c USING (gameId, playId)),
        mode_t AS (
          SELECT gameId, playId, predicted_coverage AS play_coverage
          FROM (SELECT gameId, playId, predicted_coverage,
                       row_number() OVER (PARTITION BY gameId, playId
                                          ORDER BY COUNT(*) DESC,
                                                   predicted_coverage DESC) AS rn
                FROM pred GROUP BY 1, 2, 3)
          WHERE rn = 1),
        fstats AS (
          SELECT gameId, playId,
                 CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS train_frames_p,
                 CAST(SUM(CASE WHEN predicted_coverage = coverage THEN 1 ELSE 0 END) AS BIGINT) AS label_matches_p
          FROM pred GROUP BY 1, 2),
        plays_cov AS (
          SELECT m.play_coverage, p.epa, p.n_db, f.train_frames_p, f.label_matches_p
          FROM mode_t m
          JOIN fstats f USING (gameId, playId)
          JOIN pl p USING (gameId, playId)),
        agg AS (
          SELECT play_coverage, COUNT(*) AS plays, AVG(epa) AS def_epa,
                 AVG(n_db) AS avg_n_db,
                 CAST(SUM(train_frames_p) AS BIGINT) AS train_frames,
                 CAST(SUM(label_matches_p) AS BIGINT) AS label_matches
          FROM plays_cov GROUP BY 1)
        SELECT play_coverage, plays, def_epa, avg_n_db,
               CAST(plays AS DOUBLE) / SUM(plays) OVER () AS freq,
               train_frames, label_matches
        FROM agg
        ORDER BY plays DESC, play_coverage"""),
      doc = "all coverages.R capstone: LOS attach -> personnel casts -> Q6-corrected label join -> arrival ball distance -> position filter -> H1 pivot -> md5 split scaffold -> surrogate at the ML boundary -> D4 play mode -> coverage-EPA summary, one composed lazy plan on BDB fixtures (reference program)")
  )
}
