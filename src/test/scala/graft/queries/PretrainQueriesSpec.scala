package graft.queries

import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Semantics of the pretraining-curation queries (q66-q70) on a
  * hand-built documents fixture where every expected value is known by
  * construction: chunk boundaries, contamination flags, repetition
  * verdicts, and the unigram-LM score.
  */
class PretrainQueriesSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private lazy val q = PretrainQueries.queries.toMap

  /** Fixture corpus written once as a documents.parquet table:
    *   0  eval doc (doc_id % 97 == 0): tokens e1..e10
    *   1  copies e3..e7 (5 consecutive eval tokens) -> contaminated
    *   2  unrelated, 60 distinct tokens t1..t60 -> 3 chunks, keep=1
    *   3  "a a a a a a" -> maximal repetition, keep=0
    */
  private val d = java.nio.file.Files.createTempDirectory("pretrain_fixture")
  override def afterAll(): Unit = TempPaths.delete(d.toFile)

  private lazy val dir: String = {
    import spark.implicits._
    val docs = Seq(
      (0L, (1 to 10).map(i => s"e$i").mkString(" "), "en", "src0"),
      (1L, "x1 x2 " + (3 to 7).map(i => s"e$i").mkString(" ") + " x3 x4", "en", "src0"),
      (2L, (1 to 60).map(i => s"t$i").mkString(" "), "de", "src1"),
      (3L, "a a a a a a", "en", "src1")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    docs.write.mode("overwrite").parquet(s"$d/documents.parquet")
    d.toString
  }

  test("q66: doc copying 5 consecutive eval tokens is flagged, others are not") {
    val rows = q("q66_decontam").fn(spark, dir).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 1L)))
  }

  test("q67: repeated-token doc is dropped, diverse doc kept") {
    val byId = q("q67_repetition").fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 3: 6 tokens, 1 distinct -> dup_frac 5/6, top bigram "a a" 5/5
    assert(byId(3L).getDouble(2) == 0.833333)
    assert(byId(3L).getDouble(3) == 1.0)
    assert(byId(3L).getLong(4) == 0L)
    // doc 2: all distinct -> dup_frac 0, every bigram unique
    assert(byId(2L).getDouble(2) == 0.0)
    assert(byId(2L).getLong(4) == 1L)
  }

  test("q68: kept rows satisfy bucket < rate with the per-lang rate table") {
    val rows = q("q68_mixture_sample").fn(spark, dir).collect()
    rows.foreach { r =>
      val (lang, bucket, rate) = (r.getString(1), r.getLong(2), r.getLong(3))
      val expected = lang match { case "en" => 300L; case "de" => 600L; case _ => 800L }
      assert(rate == expected && bucket < rate)
    }
  }

  test("q69: 60-token doc chunks into 32/32/12 with stride 24") {
    val rows = q("q69_rag_chunks").fn(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 2L).collect()
    assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 32L), (1L, 32L), (2L, 12L)))
  }

  test("q69: consecutive chunks overlap by size - stride = 8 tokens") {
    // starts 1, 25: chunk0 covers tokens 1..32, chunk1 covers 25..56
    val overlap = 32 - 24
    assert(overlap == 8) // documented relationship the chunker encodes
  }

  test("q70: single-token-vocabulary doc scores ln(p) of that token") {
    val rows = q("q70_unigram_logprob").fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus total = 10 + 9 + 60 + 6 = 85 tokens; "a" occurs 6 times
    val expected = BigDecimal(math.log(6.0 / 85))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(3L)._1 == 6L)
    assert(math.abs(rows(3L)._2 - expected) < 1e-9)
  }
}
