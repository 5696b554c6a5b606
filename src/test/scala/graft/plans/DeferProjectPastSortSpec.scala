package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** DeferProjectPastSort must change where a projection runs, never what
  * a query returns: every check compares collected rows, order
  * included, with the rule on and with it excluded through Spark's own
  * `spark.sql.optimizer.excludedRules`.
  */
class DeferProjectPastSortSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** A session sharing the test context with the rule excluded. */
  private lazy val off: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", DeferProjectPastSort.ruleName)
    s
  }

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.tracker.rules.get(DeferProjectPastSort.ruleName).exists(_.numEffectiveInvocations > 0)

  /** Run `q` in both sessions, one after the other (a query may reuse
    * a scratch directory); assert equal rows and return the "on" frame.
    */
  private def sameRows(q: SparkSession => DataFrame): DataFrame = {
    val on = q(spark)
    val rows = on.collect().toSeq
    val offDf = q(off)
    assert(rows === offDf.collect().toSeq)
    assert(!fired(offDf), "excludedRules did not switch the rule off")
    on
  }

  private val key = Seq("l_orderkey", "l_linenumber")

  private def lineitem(s: SparkSession): DataFrame = graft.Tables.lineitem(s, sf)

  /** Two computed doubles from two base doubles: nothing grows. */
  private def trig(s: SparkSession): DataFrame =
    lineitem(s).select(col("l_orderkey"), col("l_linenumber"),
      round(sin(col("l_discount")), 6).as("s"), round(cos(col("l_tax")), 6).as("c"))

  test("q13 rows are identical with the rule on and excluded; the rule fires on q13") {
    val q13 = sameRows(s => SparkEntry.queries("q13_kinematics")(s, sf))
    assert(fired(q13))
  }

  test("a projection of row-wise math moves above the sort, and the rewrite is idempotent") {
    val df = sameRows(s => trig(s).orderBy(key.map(col): _*))
    assert(fired(df))
    val opt = df.queryExecution.optimizedPlan
    assert(DeferProjectPastSort(opt).fastEquals(opt))
    // converged: the rule ran fewer times in its two fixed-point
    // batches than one batch's iteration cap
    val runs = df.queryExecution.tracker.rules(DeferProjectPastSort.ruleName).numInvocations
    assert(runs < spark.sessionState.conf.optimizerMaxIterations, s"$runs invocations")
  }

  test("a rand() column, a computed sort key and a narrowing projection are left untouched") {
    val k = key.map(col)
    // an array<double> base column: defaultSize counts it as one 8-byte
    // element, so by bytes alone carrying it past the sort looks no
    // wider than the double it replaces
    val arrays = new java.io.File(java.nio.file.Files.createTempDirectory("defer-array").toFile, "t")
    spark.range(100).select(col("id"),
        array((0 until 16).map(i => col("id").cast("double") + i): _*).as("arr"))
      .write.parquet(arrays.getAbsolutePath)
    val cases = Seq[(String, SparkSession => DataFrame)](
      "rand()" -> (s => lineitem(s).select(k :+ (sin(col("l_discount")) + rand(1)).as("s"): _*).orderBy(k: _*)),
      "computed key" -> (s => trig(s).orderBy(col("l_orderkey") + 1, col("l_linenumber"))),
      "length(string)" -> (s => lineitem(s).select(k :+ length(col("l_returnflag")).as("n"): _*).orderBy(k: _*)),
      "element_at(array)" -> (s => s.read.parquet(arrays.getAbsolutePath)
        .select(col("id"), (element_at(col("arr"), 1) * 2.0).as("x")).orderBy("id")))
    try cases.foreach { case (what, q) =>
      val df = q(spark)
      df.collect()
      assert(!fired(df), what)
    } finally graft.queries.TempPaths.delete(arrays.getParentFile)
    // the same projection fires once the string is a sort key: the sort
    // carries it either way, so nothing is newly carried
    val withKey = sameRows(s => lineitem(s).select(k :+ length(col("l_returnflag")).as("n"): _*)
      .orderBy(k :+ col("l_returnflag"): _*))
    assert(fired(withKey))
  }

  test("orderBy(...).limit(k) still plans TakeOrderedAndProject") {
    val df = sameRows(s => trig(s).orderBy(key.map(col): _*).limit(7))
    assert(fired(df))
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("row-identical on/off at sf0.001 over the panel queries and q05, q113, q145, q193") {
    val panel = Seq("q01_pricing_summary", "q13_kinematics", "q14_field_control",
      "q158_feature_matrix", "q81_stream_dedup", "q127_compaction_roundtrip")
    val firing = Seq("q05_anchor_window", "q113_rank_metrics", "q145_ann_recall", "q193_sliding_median")
    (panel ++ firing).foreach { name =>
      val on = sameRows(s => SparkEntry.queries(name)(s, sf))
      if (firing.contains(name)) assert(fired(on), name)
    }
  }
}
