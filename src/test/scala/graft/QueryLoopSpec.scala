package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.ExactSums
import graft.ops.ScaleGuards

/** What Bench and Verify share: the outcome classification of a query
  * run, and the JSON string escaper (every string must come back
  * unchanged through a strict parser, and the literal itself must be
  * pure ASCII).
  */
class QueryLoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val mapper = new ObjectMapper()

  test("run files an all-pairs guard trip as Skip(successor) and an exact-sum overflow as Err") {
    val key = "spark.graft.allPairs.maxRows"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "3")
    val (_, tripped) = try {
      QueryLoop.run(spark)(ScaleGuards.requireAllPairsSafe(spark.range(10).toDF(), "probe", "the banded path").collect())
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(tripped === QueryLoop.Skip("the banded path"))

    // 100 × 9e17 cents passes Long.MaxValue: a real overflow, not a refusal
    val (_, overflowed) = QueryLoop.run(spark)(
      TestSpark.doubles(spark, Seq.fill(100)(9e15)).agg(ExactSums.sumOf(2, ExactSums.cents(col("x"), 2))).collect())
    assert(overflowed.isInstanceOf[QueryLoop.Err], overflowed.toString)
  }

  test("jsonString round-trips quotes, controls, non-ASCII, emoji and a lone surrogate through Jackson") {
    val cases = Seq(
      "",
      "plain ascii",
      "say \"hi\"",
      "back\\slash \\n literal",
      "line\nbreak\ttab\rcr",
      "bell\u0007 nul\u0000 esc\u001b del\u007f",
      "naïve café – ≤ 1µs",
      "emoji 🏈 pair",
      "cut \ud83c",              // a lone high surrogate, as take(n) can leave
      "lone low \udfc8 surrogate")
    cases.foreach { s =>
      val lit = QueryLoop.jsonString(s)
      assert(lit.forall(c => c >= ' ' && c <= '~'), s"non-ASCII or control char in $lit")
      assert(mapper.readValue(lit, classOf[String]) === s, lit)
    }
    assert(QueryLoop.jsonString("a\nb\t\"c\"") === "\"a\\nb\\t\\\"c\\\"\"")
  }
}
