package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupClustersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("duplicateClusters finds connected components with min-id labels") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, {20} (isolated)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val clusters = DedupOps.duplicateClusters(pairs, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("keep-one-per-cluster selection follows from the labels") {
    import spark.implicits._
    val pairs = Seq((5L, 6L), (6L, 7L)).toDF("d1", "d2")
    val docs = Seq(5L, 6L, 7L, 8L).toDF("doc_id")
    val clusters = DedupOps.duplicateClusters(pairs, docs)
    val keepers = clusters.filter(col("doc_id") === col("cluster"))
    assert(keepers.select("doc_id").collect().map(_.getLong(0)).toSet === Set(5L, 8L))
  }

  test("long chain converges within diameter iterations") {
    import spark.implicits._
    val n = 12
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
    val docs = (1 to n).map(_.toLong).toDF("doc_id")
    val clusters = DedupOps.duplicateClusters(pairs, docs)
    assert(clusters.select("cluster").distinct().collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("a 40-node chain, wider than any fixed round budget, comes back as one cluster") {
    import spark.implicits._
    // diameter 39: min-label propagation needs ~40 rounds to carry
    // label 1 to the far end, so a 10- or 15-round budget splits it
    val n = 40
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("d1", "d2")
    val docs = (1 to n + 1).map(_.toLong).toDF("doc_id")
    val clusters = DedupOps.duplicateClusters(pairs, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === ((1 to n).map(_.toLong -> 1L) :+ ((n + 1).toLong -> (n + 1).toLong)).toMap)
  }
}
