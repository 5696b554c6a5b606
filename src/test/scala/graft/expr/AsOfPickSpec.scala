package graft.expr

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Boundary semantics of the native asof_pick binary search
  * (expr/AsOfPick.scala): every direction × strictness on a sorted quote
  * array WITH time ties, plus the null/empty edges. Equivalence against
  * the merge AsOfJoinExec on randomized data is in AsOfPropertySpec
  * (asofJoinBroadcast routes through asof_pick since round 13).
  */
class AsOfPickSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // quotes (10,'a') (20,'b') (20,'c') (30,'d') — a tie at t=20 whose
  // sort_array order is by the SECOND field ('b' before 'c'), exactly
  // the order element_at used to see
  private def pick(t: Long, forward: Boolean, strict: Boolean): Option[String] = {
    val row = spark.sql(
      s"""SELECT asof_pick(
         |  sort_array(array(struct(30L AS t, 'd' AS v), struct(20L AS t, 'c' AS v),
         |                   struct(10L AS t, 'a' AS v), struct(20L AS t, 'b' AS v))),
         |  ${t}L, $forward, $strict) AS m""".stripMargin).head()
    if (row.isNullAt(0)) None else Some(row.getStruct(0).getString(1))
  }

  test("backward inclusive picks the LAST tied element at t") {
    assert(pick(20L, forward = false, strict = false) === Some("c"))
    assert(pick(25L, forward = false, strict = false) === Some("c"))
    assert(pick(9L, forward = false, strict = false) === None)
    assert(pick(31L, forward = false, strict = false) === Some("d"))
  }

  test("backward strict excludes ties at t") {
    assert(pick(20L, forward = false, strict = true) === Some("a"))
    assert(pick(10L, forward = false, strict = true) === None)
  }

  test("forward inclusive picks the FIRST tied element at t") {
    assert(pick(20L, forward = true, strict = false) === Some("b"))
    assert(pick(15L, forward = true, strict = false) === Some("b"))
    assert(pick(31L, forward = true, strict = false) === None)
    assert(pick(10L, forward = true, strict = false) === Some("a"))
  }

  test("forward strict excludes ties at t") {
    assert(pick(20L, forward = true, strict = true) === Some("d"))
    assert(pick(30L, forward = true, strict = true) === None)
  }

  test("null array / null probe time / empty array yield NULL, not an error") {
    val r = spark.sql(
      """SELECT
        |  asof_pick(CAST(NULL AS ARRAY<STRUCT<t: BIGINT, v: STRING>>), 5L, false, false) AS a,
        |  asof_pick(array(struct(10L AS t, 'a' AS v)), CAST(NULL AS BIGINT), false, false) AS b,
        |  asof_pick(CAST(array() AS ARRAY<STRUCT<t: BIGINT, v: STRING>>), 5L, true, false) AS c
        |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("probe type must match the quote time type exactly (raw long vs timestamp micros)") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """SELECT asof_pick(
          |  array(struct(TIMESTAMP '2024-01-01 00:00:00' AS t, 1 AS v)),
          |  5L, false, false)""".stripMargin).collect()
    }
    assert(e.getMessage.contains("must match the quote time type"),
      s"unexpected analysis error: ${e.getMessage.take(300)}")
  }

  test("non-array first argument fails analysis cleanly, not with a ClassCastException") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT asof_pick(42, 5L, false, false)").collect()
    }
    assert(e.getMessage.contains("ARRAY<STRUCT"),
      s"unexpected analysis error: ${e.getMessage.take(300)}")
  }

  test("null struct elements / null time fields touched by the search yield NULL, not an NPE") {
    // probe 5 sends the search to index 0 in both arrays: a null element
    // (a) and a null time field (b) — each returns NULL (ElementAt posture)
    val r = spark.sql(
      """SELECT
        |  asof_pick(array(CAST(NULL AS STRUCT<t: BIGINT, v: STRING>),
        |                  struct(10L AS t, 'a' AS v)), 5L, false, false) AS a,
        |  asof_pick(array(struct(CAST(NULL AS BIGINT) AS t, 'x' AS v),
        |                  struct(10L AS t, 'a' AS v)), 5L, false, false) AS b
        |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("timestamp probe/quote times work (physical-long micros path)") {
    val r = spark.sql(
      """SELECT asof_pick(
        |  sort_array(array(struct(TIMESTAMP '2024-01-01 00:00:00' AS t, 1 AS v),
        |                   struct(TIMESTAMP '2024-01-02 00:00:00' AS t, 2 AS v))),
        |  TIMESTAMP '2024-01-01 12:00:00', false, false).v AS m""".stripMargin).head()
    assert(r.getInt(0) === 1)
  }
}
