package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkEntry, TestSpark}
import graft.plans.DeferProjectPastSort

class GraftExtensionsSpec extends AnyFunSuite {

  /** Run `body` on a genuinely NEW session built with GraftExtensions
    * (getOrCreate would return the shared test session, silently
    * skipping extension injection): clear the global default + this
    * thread's active session, restore after. The shared context is
    * started first, so it is the test session's whatever the suite
    * order.
    */
  private def withExtensionSession(body: SparkSession => Unit): Unit =
    withNewSession(_.withExtensions(new GraftExtensions))(body)

  /** As [[withExtensionSession]], but the new session gets its
    * extensions only from `spark.sql.extensions` — the conf
    * `GraftSession.create` sets, which the shared context carries.
    */
  private def withNewSession(configure: SparkSession.Builder => SparkSession.Builder)(
      body: SparkSession => Unit): Unit = {
    TestSpark.spark
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = configure(SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    try body(spark)
    finally {
      // don't stop the session (it shares the JVM's SparkContext);
      // restore the previous default/active so other suites are unaffected
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("a session built with GraftExtensions resolves the native functions without register()") {
    withExtensionSession { spark =>
      val d = spark.sql(
        "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
        .head().getDouble(0)
      assert(d === 11.0)
      val top = spark.sql(
        """SELECT inline(top_k_pairs(s, p, 2)) FROM VALUES (1.0, 10L), (3.0, 30L), (2.0, 20L) AS t(s, p)""")
        .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
      assert(top === Seq((3.0, 30L), (2.0, 20L)))
      // the injected planner strategy plans AsOfJoinPlan with no
      // imperative call (the logical node is built directly — the
      // conf-only deployment path)
      import spark.implicits._
      val probes = Seq((1L, 100L), (2L, 10L)).toDF("pid", "pt")
      val quotes = Seq((50L, "q1")).toDF("qt", "qn")
      val lPlan = probes.queryExecution.analyzed
      val rPlan = quotes.queryExecution.analyzed
      val asof = org.apache.spark.sql.GraftBridge.ofRows(spark,
        graft.plans.AsOfJoinPlan(lPlan, rPlan, Nil, Nil,
          lPlan.output.find(_.name == "pt").get, rPlan.output.find(_.name == "qt").get))
      val rows = asof.collect().map(r => (r.getLong(0), r.isNullAt(3))).toMap
      assert(rows === Map(1L -> false, 2L -> true))
    }
  }

  test("every function in the table resolves to its expression in a GraftExtensions session") {
    withExtensionSession { spark =>
      GraftFunctions.table.foreach { case (name, cls, _) =>
        val info = spark.sessionState.catalog.lookupFunctionInfo(FunctionIdentifier(name))
        assert(info.getClassName === cls.getName, name)
      }
    }
  }

  test("a GraftExtensions session holds DeferProjectPastSort once; install adds no second copy") {
    // not withExtensionSession: in this JVM the shared context's
    // spark.sql.extensions applies GraftExtensions too, so a
    // withExtensions session holds each injection twice
    withNewSession(identity) { spark =>
      def copies = GraftExtensions.optimizerRules.map(r => (spark.sessionState.optimizer.extendedOperatorOptimizationRules ++
        spark.experimental.extraOptimizations).count(_ == r))
      assert(GraftExtensions.optimizerRules.contains(DeferProjectPastSort))
      assert(copies.forall(_ == 1), copies)
      val extra = spark.experimental.extraOptimizations
      GraftSession.install(spark)
      GraftSession.install(spark)
      assert(spark.experimental.extraOptimizations === extra)
      assert(copies.forall(_ == 1), copies)
    }
  }

  test("SparkEntry.queries readies a session missing a native function; install is idempotent") {
    val s = TestSpark.spark.newSession()
    val vecDot = FunctionIdentifier("vec_dot")
    s.sessionState.functionRegistry.dropFunction(vecDot)
    assert(!s.sessionState.functionRegistry.functionExists(vecDot))
    val n = SparkEntry.queries("q37_cosine_topk")(s, "/root/testdata/sf0.001")
      .queryExecution.toRdd.count()
    assert(n > 0L)
    assert(s.sessionState.functionRegistry.functionExists(vecDot))
    val strategies = s.experimental.extraStrategies
    val optimizations = s.experimental.extraOptimizations
    GraftSession.install(s)
    GraftSession.install(s)
    assert(s.experimental.extraStrategies === strategies)
    assert(s.experimental.extraOptimizations === optimizations)
  }
}
