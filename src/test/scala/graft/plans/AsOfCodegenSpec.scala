package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins that AsOfJoinExec's whole-stage-codegen path ENGAGES (it would
  * be easy for it to silently fall back to the interpreted iterator and
  * still pass every semantics test) and that generated and interpreted
  * execution agree on every variant: backward/forward × strict ×
  * tolerance. Runs with `spark.sql.codegen.fallback=false` so a
  * generated-code compile error fails the test instead of silently
  * reverting to doExecute.
  */
class AsOfCodegenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def probes = {
    import spark.implicits._
    Seq(
      (1L, "a", 100L), (2L, "a", 205L), (3L, "a", 300L),
      (4L, "b", 50L), (5L, "b", 500L), (6L, "c", 10L), (7L, "a", 200L),
      (8L, "d", 1000L), (9L, "b", 60L)
    ).toDF("pid", "kk", "pt")
  }

  private def quotes = {
    import spark.implicits._
    Seq(
      ("a", 90L, 1.0), ("a", 200L, 2.0), ("a", 290L, 3.0),
      ("b", 60L, 4.0), ("d", 5L, 9.0), ("e", 1L, 7.0)
    ).toDF("kk", "qt", "qv")
  }

  private def keyed(strict: Boolean, tol: Option[Long], fwd: Boolean): Seq[(Long, Option[Long], Option[Double])] =
    AsOfJoinOps.asofJoin(probes, quotes, Seq("kk"), "pt", "qt", strict, tol, fwd)
      .select(col("pid"), col("qt"), col("qv"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1).toSeq

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("codegen path engages: final plan shows AsOfInput shields and a codegen stage over AsOfJoin") {
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = AsOfJoinOps.asofJoin(probes, quotes, Seq("kk"), "pt", "qt")
      df.collect() // materialize so AQE finalizes the plan
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("AsOfInput"), s"shields not inserted:\n$p")
      // the star marker is whole-stage codegen's "this node is generated"
      assert("\\*\\(\\d+\\) AsOfJoin".r.findFirstIn(p).isDefined,
        s"AsOfJoin not inside a WholeStageCodegen stage:\n$p")
      // the child sorts keep their OWN codegen stages (the shield's job)
      assert("\\*\\(\\d+\\) Sort".r.findAllIn(p).length >= 2,
        s"child sorts lost their codegen stages:\n$p")
    }
  }

  test("generated and interpreted merges agree on every variant") {
    val variants = for {
      strict <- Seq(false, true)
      fwd <- Seq(false, true)
      tol <- Seq(None, Some(100L), Some(0L))
    } yield (strict, tol, fwd)
    variants.foreach { case (strict, tol, fwd) =>
      val gen = withConf("spark.sql.codegen.fallback" -> "false") {
        keyed(strict, tol, fwd)
      }
      val interp = withConf("spark.sql.codegen.wholeStage" -> "false") {
        keyed(strict, tol, fwd)
      }
      assert(gen === interp, s"codegen/interpreted mismatch at strict=$strict tol=$tol fwd=$fwd")
    }
  }

  test("codegen survives a fused parent aggregate (stage above consumes join vars)") {
    withConf("spark.sql.codegen.fallback" -> "false") {
      val df = AsOfJoinOps.asofJoin(probes, quotes, Seq("kk"), "pt", "qt")
        .toDF("pid", "kk_l", "pt", "qt", "qv") // left ++ right minus the key
        .groupBy("kk_l").agg(count(col("qv")).as("n_matched"))
        .orderBy("kk_l")
      val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // a: probes 1/2/3/7 all have a quote at-or-before; b: probes 5 and 9
      // (t=60 inclusive); c: no quotes; d: probe 8 matches the t=5 quote
      assert(got === Seq(("a", 4L), ("b", 2L), ("c", 0L), ("d", 1L)))
    }
  }

  test("keyless as-of works under codegen (AllTuples, single partition)") {
    withConf("spark.sql.codegen.fallback" -> "false") {
      import spark.implicits._
      val p = Seq((1L, 100L), (2L, 5L)).toDF("pid", "pt")
      val q = Seq((90L, 1.0), (50L, 2.0)).toDF("qt", "qv")
      val got = AsOfJoinOps.asofJoin(p, q, Seq.empty, "pt", "qt")
        .select("pid", "qt").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(got === Set((1L, Some(90L)), (2L, None)))
    }
  }
}
