package graft.expr

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.RelationalOps

class TopKPairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("top_k_pairs equals the row_number window formulation incl. ties (§7.3(b))") {
    import spark.implicits._
    // ties at the k boundary: three payloads share score 5.0
    val df = Seq(
      (1, 5.0, 10L), (1, 5.0, 11L), (1, 5.0, 12L), (1, 7.0, 99L), (1, 1.0, 1L),
      (2, 3.0, 20L), (2, 4.0, 21L)
    ).toDF("g", "score", "payload")
    val viaAgg = df.groupBy("g").agg(expr("top_k_pairs(score, payload, 3)").as("t"))
      .select(col("g"), expr("inline(t)"))
      .select("g", "payload", "score")
    val viaWindow = RelationalOps.topKPerGroup(
      Seq("g"), Seq(col("score").desc, col("payload").asc), 3)(df)
      .select("g", "payload", "score")
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
    // group 1 keeps 7.0/99, then the two smallest tied payloads 10, 11
    val g1 = viaAgg.filter(col("g") === 1).orderBy(desc("score"), asc("payload"))
      .collect().map(r => (r.getDouble(2), r.getLong(1))).toSeq
    assert(g1 === Seq((7.0, 99L), (5.0, 10L), (5.0, 11L)))
  }

  test("top_k_pairs ranks NaN first and folds -0.0, matching the window sort (round-14 ADVICE)") {
    import spark.implicits._
    // g=1: a NaN score (zero-norm-embedding cosine) must rank ABOVE 9.0
    //   and NaN ties resolve by payload — row_number's double sort order.
    // g=2: -0.0 and 0.0 are the SAME score; the tie goes to the payload.
    val df = Seq(
      (1, Double.NaN, 30L), (1, Double.NaN, 10L), (1, 9.0, 1L), (1, 2.0, 2L),
      (2, -0.0, 7L), (2, 0.0, 3L), (2, -1.0, 4L)
    ).toDF("g", "score", "payload")
    val viaAgg = df.groupBy("g").agg(expr("top_k_pairs(score, payload, 2)").as("t"))
      .select(col("g"), expr("inline(t)")).select("g", "payload", "score")
    val viaWindow = RelationalOps.topKPerGroup(
      Seq("g"), Seq(col("score").desc, col("payload").asc), 2)(df)
      .select("g", "payload", "score")
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
    val g1 = viaAgg.filter(col("g") === 1).collect()
      .map(r => (r.getLong(1), r.getDouble(2).isNaN)).sortBy(_._1).toSeq
    assert(g1 === Seq((10L, true), (30L, true))) // both NaNs kept, 9.0 cut
    val g2 = viaAgg.filter(col("g") === 2).collect().map(_.getLong(1)).sorted.toSeq
    assert(g2 === Seq(3L, 7L)) // the zero tie keeps BOTH payloads, -1.0 cut
  }

  test("top_k_pairs survives partial/merge across many partitions") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 5, i.toDouble, i.toLong)).toDF("g", "score", "payload")
      .repartition(13)
    val top = df.groupBy("g").agg(expr("top_k_pairs(score, payload, 2)").as("t"))
      .select(col("g"), expr("inline(t)"))
    // per group, top-2 scores are the two largest i with i % 5 == g
    val rows = top.collect().map(r => (r.getInt(0), r.getDouble(1))).groupBy(_._1)
    assert(rows(0).map(_._2).sorted.toSeq === Seq(995.0, 1000.0))
    assert(rows(4).map(_._2).sorted.toSeq === Seq(994.0, 999.0))
  }
}
