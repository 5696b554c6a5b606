package graft.queries

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** PARITY.md rule-9 boundary, ENFORCED (round 11): the record-linkage
  * family's bit-exact jaro_winkler/levenshtein parity claim holds for
  * ASCII signatures only (UTF-16 code units vs DuckDB's UTF-8 bytes), so
  * `blockedSigPairs` must EXCLUDE non-ASCII signatures deterministically
  * rather than let them score engine-dependently. This spec builds a
  * crafted corpus where a non-ASCII near-duplicate pair would certainly
  * block together and match (identical 32-char prefixes), and proves the
  * q196/q197 gates exclude it while keeping the ASCII control pair.
  */
class AsciiBoundarySpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private val d = java.nio.file.Files.createTempDirectory("graft_ascii_boundary").toFile
  override def afterAll(): Unit = TempPaths.delete(d)

  private lazy val dir: String = {
    import spark.implicits._
    val asciiA = "the quick brown fox jumps over the lazy dog once more"
    val asciiB = "the quick brown fox jumps over the lazy dog once mere"
    // identical non-ASCII prefix: would share every chunk and score
    // jw = 1.0 if it ever reached the scorer
    val nonA = "héllo wörld héllo wörld héllo wörld padding padding"
    val nonB = "héllo wörld héllo wörld héllo wörld padding paddinh"
    val docs = Seq(
      (1L, asciiA, "en", "web"),
      (2L, asciiB, "en", "web"),
      (3L, nonA, "en", "web"),
      (4L, nonB, "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
    docs.coalesce(1).write.mode("overwrite").parquet(d.getAbsolutePath + "/documents.parquet")
    d.getAbsolutePath
  }

  test("q196 excludes non-ASCII signatures but keeps the ASCII control pair") {
    val rows = DedupQueries.queries.toMap.apply("q196_fuzzy_edit_pairs")
      .fn(spark, dir).collect()
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)), s"ASCII control pair missing: $pairs")
    assert(!pairs.exists { case (a, b) => a >= 3L || b >= 3L },
      s"non-ASCII docs leaked into linkage: $pairs")
  }

  test("q197 excludes non-ASCII signatures but keeps the ASCII control pair") {
    val rows = DedupQueries.queries.toMap.apply("q197_jaro_winkler_linkage")
      .fn(spark, dir).collect()
    val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((1L, 2L)), s"ASCII control pair missing: $pairs")
    assert(!pairs.exists { case (a, b) => a >= 3L || b >= 3L },
      s"non-ASCII docs leaked into linkage: $pairs")
  }
}
