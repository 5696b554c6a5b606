package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val allCores = Runtime.getRuntime.availableProcessors

  test("a blank SPARK_GRAFT_CPUS means every core, not a NumberFormatException") {
    assert(GraftSession.cpusFrom(Some("")) === allCores)
    assert(GraftSession.cpusFrom(Some("  ")) === allCores)
    assert(GraftSession.cpusFrom(None) === allCores)
    assert(GraftSession.cpusFrom(Some(" 3 ")) === 3)
  }

  test("a zero or negative SPARK_GRAFT_CPUS means every core, not local[0]") {
    assert(GraftSession.cpusFrom(Some("0")) === allCores)
    assert(GraftSession.cpusFrom(Some("-2")) === allCores)
  }

  test("sessionConfigs sets no spark.sql.streaming.* key (streaming confs are scoped per run)") {
    assert(Tables.sessionConfigs.keys.filter(_.startsWith("spark.sql.streaming.")).isEmpty)
  }

  test("registerTables exposes the corpus to plain SQL with native functions") {
    GraftSession.registerTables(spark, "/root/testdata/sf0.001")
    val n = spark.sql("SELECT count(*) FROM lineitem").head().getLong(0)
    // the view must expose exactly the parquet's rows; the count itself
    // is the driver's to choose (TESTDATA.md says "~6,000" at sf0.001
    // and row counts can drift across refreshes)
    assert(n === Tables.load(spark, "/root/testdata/sf0.001", "lineitem").count())
    assert(n > 0L)
    // native function + view together
    val d = spark.sql(
      "SELECT vec_dot(embedding, embedding) AS d FROM embeddings ORDER BY vec_id LIMIT 1")
      .head().getDouble(0)
    assert(math.abs(d - 1.0) < 1e-3) // unit-normalized embeddings
    // events view carries the ts_us column for time math
    val h = spark.sql("SELECT count(DISTINCT ts_us div 3600000000) FROM events").head().getLong(0)
    assert(h > 0)
  }
}
