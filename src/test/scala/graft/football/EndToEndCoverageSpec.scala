package graft.football

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.CoverageModel
import graft.{FootballFixtures, TestSpark}

/** The complete §3.3 user journey on a generated season slice:
  * tracking frames → enrich → feature matrix → labels → seeded split →
  * RF fit → per-play coverage mode → EPA summary. Labels are planted to
  * correlate with defender depth, so the learned model must beat the
  * majority class — this is the reference's only quantitative check
  * (all coverages.R:209-214), reproduced as an assertion.
  */
class EndToEndCoverageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** 40 plays × 3 frames; man plays have tight corners (small y spread,
    * close to LOS), zone plays deep safeties. Deterministic.
    */
  private lazy val season = {
    import spark.implicits._
    val rows = for {
      play <- 1 to 40
      frame <- 1 to 3
      defender <- 0 until 4
    } yield {
      val man = play % 2 == 0
      val jitter = (play * 7 + frame * 3 + defender) % 5 * 0.4
      val depth = if (man) 2.0 + jitter else 10.0 + jitter
      val x = 60.0 + depth
      FootballFixtures.Tracking(
        gameId = 1L, playId = play.toLong, frameId = frame,
        nflId = 100L + defender, displayName = s"D$defender",
        team = "away", position = Seq("CB", "FS", "SS", "LB")(defender),
        playDirection = "right", x = x, y = 10.0 + defender * 10 + jitter,
        s = 3.0 + jitter, a = 1.0, dis = 0.3, o = 90.0, dir = 45.0,
        event = if (frame == 3) "pass_arrived" else null)
    }
    val balls = for {
      play <- 1 to 40
      frame <- 1 to 3
    } yield FootballFixtures.Tracking(
      1L, play.toLong, frame, null, "Football", "football", null,
      "right", 60.0, 26.0, 8.0, 0.0, 0.8, 0.0, 0.0,
      if (frame == 3) "pass_arrived" else null)
    (rows ++ balls).toDF()
  }

  private lazy val plays = {
    import spark.implicits._
    (1 to 40).map { p =>
      FootballFixtures.Play(1L, p.toLong, s"play $p", "DET", 5, 60, 10, 1, 6, 4,
        "4 DL, 2 LB, 5 DB", if (p % 5 == 0) null else (p % 7) * 0.3 - 0.9)
    }.toDF()
  }

  private lazy val labels = {
    import spark.implicits._
    (1 to 40).map(p =>
      FootballFixtures.Coverage(1L, p.toLong, if (p % 2 == 0) "Cover 1 Man" else "Cover 3 Zone"))
      .toDF()
  }

  test("season slice: features -> RF -> play coverage -> EPA summary, accuracy beats majority") {
    val games = FootballFixtures.games(spark)
    val enriched = CoveragePipeline.enrich(season, plays, games)
    val features = CoveragePipeline.coverageFeatureMatrix(
      CoveragePipeline.withLineOfScrimmage(enriched))
    assert(features.count() === 40) // one pass_arrived frame per play

    val labeled = features.join(labels, Seq("gameId", "playId"))
    val (train, test) = CoverageModel.trainTestSplit(labeled)
    val fitted = CoverageModel.fit(train, numTrees = 20)
    val scored = fitted.predict(test)
    val acc = fitted.accuracy(scored)
    info(f"end-to-end RF accuracy = $acc%.3f on ${test.count()} held-out plays")
    assert(acc > 0.6, f"accuracy $acc%.3f not above majority baseline on separable season")

    // stages 10-11: per-play mode over frames + EPA summary
    val perPlay = CoveragePipeline.playCoverage(
      fitted.predict(labeled), predictedCol = "predicted_coverage")
    val summary = CoveragePipeline.coverageSummary(
      perPlay.join(plays.select("gameId", "playId", "epa"), Seq("gameId", "playId")))
    val rows = summary.collect()
    assert(rows.map(_.getAs[Long]("plays")).sum === 40)
    assert(math.abs(rows.map(_.getAs[Double]("freq")).sum - 1.0) < 1e-12)
  }
}
