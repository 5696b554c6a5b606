package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DedupOps

/** Dedup quality harness: MinHash banding is only useful if its
  * candidate set actually contains the true near-duplicates. Ground
  * truth = all in-scope pairs with unigram Jaccard ≥ 0.5; measured =
  * fraction of those surfaced as band candidates (8 signatures, 4 bands
  * of 2 — the q35/q50 configuration). Theory for bands of 2:
  * P(candidate) = 1 − (1 − s²)⁴ ≈ 0.68 at s = 0.5, → 1 as s → 1, so
  * recall over a mostly-high-similarity truth set should clear 0.7.
  */
class DedupRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The two-step reference for `DedupOps.bandHashes`: k signature
    * rows per doc (min(h1 + seed·h2) mod 2^61−1, one row per seed),
    * then one band_hash per (doc, band) over `rowsPerBand` consecutive
    * seeds. The decimal renderings are '#'-separated (variable width) so
    * distinct (min, max) pairs can't collide on concatenation.
    */
  private def minhashSignatures(toks: DataFrame, k: Int, scopeCols: Seq[String])(implicit s: SparkSession): DataFrame = {
    val seeds = s.range(k.toLong).select(col("id").as("seed"))
    DedupOps.withTokenHashes(toks).crossJoin(broadcast(seeds))
      .groupBy((scopeCols ++ Seq("doc_id", "seed")).map(col): _*)
      .agg(min((col("__h1") + col("seed") * col("__h2")) % DedupOps.MersennePrime61).as("mh"))
  }

  private def lshBands(sig: DataFrame, rowsPerBand: Int, scopeCols: Seq[String]): DataFrame =
    sig.withColumn("band", expr(s"seed div $rowsPerBand"))
      .groupBy((scopeCols ++ Seq("doc_id", "band")).map(col): _*)
      .agg(md5(concat(min(col("mh")).cast("string"), lit("#"),
        max(col("mh")).cast("string"))).as("band_hash"))

  test("MinHash band candidates recover >=70% of true Jaccard>=0.5 pairs") {
    implicit val s = spark
    val scope = Seq("lang", "source")
    val toks = DedupOps.tokenSet(Tables.documents(spark, sf), "text", scope).persist()

    // ground truth: exact in-scope Jaccard >= 0.5 (all-pairs, small SF only)
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val t1 = toks.select(col("doc_id").as("d1"), col("lang"), col("source"), col("tok"))
    val t2 = toks.select(col("doc_id").as("d2"), col("lang"), col("source"), col("tok"))
    val truth = t1.join(t2, Seq("lang", "source", "tok"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .withColumn("jacc", col("c").cast("double") / (col("n1") + col("n2") - col("c")))
      .filter(col("jacc") >= 0.5)
      .select("d1", "d2")

    val candidates = DedupOps.candidatePairs(
      lshBands(minhashSignatures(toks, 8, scope), 2, scope), scope)

    val nTruth = truth.count().toDouble
    assert(nTruth > 0, "testdata has no high-Jaccard pairs — harness vacuous")
    val hit = truth.join(candidates, Seq("d1", "d2"), "left_semi").count().toDouble
    val recall = hit / nTruth
    info(f"MinHash band recall = $recall%.3f over ${nTruth.toInt} true pairs")
    assert(recall >= 0.7, f"band recall $recall%.3f below 0.7")
  }

  test("fused bandHashes equals the two-step minhashSignatures+lshBands path") {
    implicit val s = spark
    val scope = Seq("lang", "source")
    val toks = DedupOps.tokenSet(Tables.documents(spark, sf), "text", scope)
    val twoStep = lshBands(minhashSignatures(toks, 8, scope), 2, scope)
      .select("lang", "source", "doc_id", "band", "band_hash")
    val fused = DedupOps.bandHashes(toks, 8, 2, scope)
      .select("lang", "source", "doc_id", "band", "band_hash")
    assert(twoStep.exceptAll(fused).isEmpty && fused.exceptAll(twoStep).isEmpty,
      "fused band hashes diverge from the reference two-step formulation")
  }
}
