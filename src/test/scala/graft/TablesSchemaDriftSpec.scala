package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The loader-boundary schema guard (round-6 verdict task 4): the
  * driver's testdata has shipped `events.ts` as parquet TIMESTAMP(NANOS)
  * (LongType under nanosAsLong), then TIMESTAMP(μs) (TIMESTAMP_NTZ) —
  * the same instants either way. `Tables.normalizeEventTs` /
  * `tsAsTimestamp` / `tsLiteral` must produce IDENTICAL logical values
  * for every physical type, and fail fast with a drift-naming message
  * for anything new, so the next refresh costs one loader line instead
  * of 42 queries.
  */
class TablesSchemaDriftSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // one instant, three physical encodings; μs precision (what the data has)
  private val instantsUs = Seq(
    1700000000000000L, // 2023-11-14 22:13:20 UTC
    1700000000123456L,
    1704067199999999L)

  private def longNanosDf: DataFrame = {
    import spark.implicits._
    instantsUs.zipWithIndex
      .map { case (us, i) => (i.toLong, us * 1000L) }
      .toDF("event_id", "ts")
  }

  private def ltzDf: DataFrame = {
    import spark.implicits._
    instantsUs.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }
      .toDF("event_id", "us")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "ts")
  }

  private def ntzDf: DataFrame =
    ltzDf.withColumn("ts", col("ts").cast(TimestampNTZType))

  private def tsUs(df: DataFrame): Seq[Long] =
    Tables.normalizeEventTs(df).orderBy("event_id")
      .select("ts_us").collect().map(_.getLong(0)).toSeq

  test("normalizeEventTs yields identical ts_us for LONG-nanos, TIMESTAMP and TIMESTAMP_NTZ") {
    assert(tsUs(longNanosDf) === instantsUs)
    assert(tsUs(ltzDf) === instantsUs)
    assert(tsUs(ntzDf) === instantsUs)
  }

  test("normalizeEventTs keeps ts_ns exact (ts_ns = ts_us * 1000) and the column position of ts") {
    val out = Tables.normalizeEventTs(ntzDf)
    assert(out.columns.toSeq === Seq("event_id", "ts_ns", "ts_us"))
    val rows = out.orderBy("event_id").select("ts_ns", "ts_us").collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1) * 1000L))
  }

  test("tsAsTimestamp yields the same instants for all three physical types") {
    def instants(df: DataFrame): Seq[Long] =
      Tables.tsAsTimestamp(df).orderBy("event_id")
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(instants(longNanosDf) === instantsUs)
    assert(instants(ltzDf) === instantsUs)
    assert(instants(ntzDf) === instantsUs)
    assert(Tables.tsAsTimestamp(ntzDf).schema("ts").dataType === TimestampType)
  }

  test("tsLiteral round-trips through normalizeEventTs for each physical type") {
    import spark.implicits._
    val us = 1700000000123456L
    Seq(LongType, TimestampType, TimestampNTZType).foreach { dt =>
      val df = Seq(0L).toDF("event_id")
        .withColumn("ts", Tables.tsLiteral(us, dt))
      assert(df.schema("ts").dataType === dt, s"literal type for $dt")
      assert(tsUs(df) === Seq(us), s"round-trip for $dt")
    }
  }

  test("eventsInRange keeps the same [lo, hi) slice for all three physical ts types") {
    // same parquet-round-trip per encoding the live refreshes have
    // shipped: LONG nanos (BIGINT file column), TIMESTAMP, TIMESTAMP_NTZ
    // — the raw-column range filter must select identical instants and
    // the output must match the events() loader schema
    val lo = instantsUs(0) + 1 // excludes the first instant
    val hi = instantsUs(2)     // [lo, hi) excludes the last
    for ((df, name) <- Seq((longNanosDf, "longnanos"), (ltzDf, "ltz"), (ntzDf, "ntz"))) {
      val full = df
        .withColumn("user_id", lit(1L)).withColumn("event_type", lit("click"))
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      val dir = java.nio.file.Paths.get("target", s"evrange-$name")
      full.coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve("events.parquet").toString)
      val got = Tables.eventsInRange(spark, dir.toString, lo, hi)
      assert(got.columns.contains("ts_us") && got.columns.contains("ts_ns"), name)
      assert(got.select("ts_us").collect().map(_.getLong(0)).toSeq ===
        Seq(instantsUs(1)), name)
    }
  }

  test("an unrecognized ts type fails fast, naming the drift") {
    import spark.implicits._
    val bad = Seq((0L, "2023-11-14")).toDF("event_id", "ts")
    val e1 = intercept[IllegalStateException](Tables.normalizeEventTs(bad))
    assert(e1.getMessage.contains("testdata refreshed"))
    val e2 = intercept[IllegalStateException](Tables.tsAsTimestamp(bad))
    assert(e2.getMessage.contains("testdata refreshed"))
    val e3 = intercept[IllegalStateException](Tables.tsLiteral(0L, StringType))
    assert(e3.getMessage.contains("testdata refreshed"))
  }

  test("load fails fast, naming the drift, when a required column is missing") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get("target", "drift-guard-test")
    // an "orders" file with o_orderkey renamed away
    Seq((1L, "O", 10.0)).toDF("o_key_renamed", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(dir.resolve("orders.parquet").toString)
    val e = intercept[IllegalStateException](Tables.load(spark, dir.toString, "orders"))
    assert(e.getMessage.contains("o_orderkey") && e.getMessage.contains("testdata refreshed"))
  }

  test("the live testdata loads through the adaptive path (whatever type it ships today)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    assert(ev.columns.contains("ts_ns") && ev.columns.contains("ts_us"))
    val r = ev.agg(min(col("ts_us")), max(col("ts_us")), count(lit(1))).head()
    assert(r.getLong(2) > 0)
    // sanity: epoch micros in a plausible range (2000-01-01 .. 2100-01-01)
    assert(r.getLong(0) > 946684800000000L && r.getLong(1) < 4102444800000000L)
  }

  /** The Spark jobs `body` starts. Listener events arrive in order, so
    * the jobs counted are those between a marker job run before `body`
    * and one run after it.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def next(): String = {
      val d = seen.poll(60, TimeUnit.SECONDS)
      assert(d != null, "listener events stopped arriving")
      d
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-before")
      while (next() != "jobs-before") {}
      body
      marker("jobs-after")
      Iterator.continually(next()).takeWhile(_ != "jobs-after").size
    } finally sc.removeSparkListener(listener)
  }

  /** `Tables.load` and the number of jobs it started. */
  private def loadJobs(s: SparkSession, dir: String, name: String): (DataFrame, Int) = {
    var df: DataFrame = null
    val jobs = jobsDuring { df = Tables.load(s, dir, name) }
    (df, jobs)
  }

  test("load infers a schema once per file state and schema settings; a rewrite or a flipped nanosAsLong infers again") {
    val dir = Files.createTempDirectory("graft_schema_memo")
    try {
      val d = dir.toString
      // a directory of part files
      spark.range(5).selectExpr("id AS a").coalesce(1).write.parquet(s"$d/t.parquet")
      assert(loadJobs(spark, d, "t")._2 > 0)
      val (again, jobs) = loadJobs(spark, d, "t")
      assert(jobs === 0)
      assert(again.columns.toSeq === Seq("a") && again.count() === 5L)
      spark.range(5).selectExpr("id AS a", "id * 2 AS b").coalesce(1)
        .write.mode("overwrite").parquet(s"$d/t.parquet")
      val (rewritten, rewriteJobs) = loadJobs(spark, d, "t")
      assert(rewriteJobs > 0 && rewritten.columns.toSeq === Seq("a", "b"))
      assert(loadJobs(spark, d, "t")._2 === 0)

      // a single file, rewritten in place
      def part(table: String) = Files.list(dir.resolve(table)).filter(_.toString.endsWith(".parquet")).findFirst().get
      spark.range(3).selectExpr("id AS c").coalesce(1).write.parquet(s"$d/src.parquet")
      Files.copy(part("t.parquet"), dir.resolve("f.parquet"))
      assert(loadJobs(spark, d, "f")._2 > 0)
      assert(loadJobs(spark, d, "f")._2 === 0)
      Files.copy(part("src.parquet"), dir.resolve("f.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val (replaced, replaceJobs) = loadJobs(spark, d, "f")
      assert(replaceJobs > 0 && replaced.columns.toSeq === Seq("c") && replaced.count() === 3L)

      // the same files under another nanosAsLong
      val flipped = spark.newSession()
      flipped.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      assert(loadJobs(flipped, d, "t")._2 > 0)
      assert(loadJobs(flipped, d, "t")._2 === 0)
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }
}
