package graft

import org.scalatest.funsuite.AnyFunSuite

/** Integrity pins for the sf-scale-up generator (SCALING.md "sf1
  * scale-proof"): a factor-2 derivation of sf0.001 must scale every
  * fact table exactly linearly, keep every referential join resolvable
  * in-replica, keep dims fixed, and keep replica token universes
  * disjoint (the property that stops the near-dup graph densifying
  * quadratically by construction).
  */
class ScaleDataSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val dst = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_scaledata_spec_${spark.sparkContext.applicationId}")
    ScaleData.generate(spark, "/root/testdata/sf0.001", dir.getAbsolutePath, 2)
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.queries.TempPaths.delete(dir)))
    dir.getAbsolutePath
  }

  private def n(t: String): Long = spark.read.parquet(s"$dst/$t.parquet").count()
  private def src(t: String): Long =
    spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").count()

  test("stageFile stages BOTH table shapes: single file and parallel-written directory") {
    // ScaleData writes ≳256 MB tables as DIRECTORIES named <t>.parquet;
    // the 11 streaming queries stage events via TempPaths.stageFile, and
    // a bare Files.copy of a directory stages an EMPTY dir (the stream
    // would read 0 rows at sf100 — round-12 advisor). Pin: a directory
    // source stages its part files flat; a re-stage replaces exactly
    // (the old code threw DirectoryNotEmptyException); the single-file
    // shape keeps working.
    import graft.queries.TempPaths
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val srcRows = events.count()
    // parallel-directory shape (what writeParallel produces)
    val parDir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_stagefile_src_${spark.sparkContext.applicationId}/events.parquet")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => TempPaths.delete(parDir.getParentFile)))
    events.repartition(3).write.mode("overwrite").parquet(parDir.getAbsolutePath)
    val staged = TempPaths.stageFile(spark, "stagefile_spec_dir",
      parDir.getAbsolutePath, "events.parquet")
    assert(spark.read.parquet(staged.getAbsolutePath).count() === srcRows,
      "directory-shape staging must surface every part file's rows")
    // re-stage: same row count, no exception, no accumulation
    TempPaths.stageFile(spark, "stagefile_spec_dir", parDir.getAbsolutePath, "events.parquet")
    assert(spark.read.parquet(staged.getAbsolutePath).count() === srcRows)
    // single-file shape (the driver's testdata layout), staged twice
    val single = TempPaths.stageFile(spark, "stagefile_spec_file",
      "/root/testdata/sf0.001/events.parquet", "events.parquet")
    TempPaths.stageFile(spark, "stagefile_spec_file",
      "/root/testdata/sf0.001/events.parquet", "events.parquet")
    assert(spark.read.parquet(single.getAbsolutePath).count() === srcRows)
  }

  test("fact tables scale exactly 2x, dims stay fixed") {
    Seq("customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach { t =>
      assert(n(t) === 2 * src(t), t)
    }
    Seq("region", "nation").foreach(t => assert(n(t) === src(t), t))
  }

  test("referential joins resolve in-replica (no orphans)") {
    val o = spark.read.parquet(s"$dst/orders.parquet")
    val c = spark.read.parquet(s"$dst/customer.parquet")
    val l = spark.read.parquet(s"$dst/lineitem.parquet")
    val e = spark.read.parquet(s"$dst/events.parquet")
    import org.apache.spark.sql.functions.col
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count() === 0)
    assert(l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti").count() === 0)
    assert(e.join(c, e("user_id") === c("c_custkey"), "left_anti").count() === 0)
    // keys stay unique after shifting
    assert(o.select("o_orderkey").distinct().count() === o.count())
    assert(c.select("c_custkey").distinct().count() === c.count())
  }

  test("event replicas are disjoint in time (density constant, not factor x)") {
    import org.apache.spark.sql.functions._
    // replica 1's earliest ts must be later than replica 0's latest —
    // the property that keeps global time-window queries (q84, q99)
    // linear in the replication factor instead of quadratic (round 12:
    // a same-ts sf10 put 48.3B rows through q84's bin join)
    val e = spark.read.parquet(s"$dst/events.parquet")
    val srcMaxId = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .agg(max(col("event_id"))).head().getLong(0)
    val bounds = e.withColumn("replica", when(col("event_id") <= srcMaxId, 0).otherwise(1))
      .groupBy("replica").agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .orderBy("replica").collect()
    assert(bounds.length === 2)
    assert(bounds(1).getAs[java.time.LocalDateTime]("lo")
      .isAfter(bounds(0).getAs[java.time.LocalDateTime]("hi")))
    // intra-replica time relations are preserved: span identical
    val spanOf = (r: Int) => java.time.Duration.between(
      bounds(r).getAs[java.time.LocalDateTime]("lo"),
      bounds(r).getAs[java.time.LocalDateTime]("hi"))
    assert(spanOf(0) === spanOf(1))
  }

  test("two-stage derivation (baseScale) keeps replicas disjoint: keys unique, joins resolve, vocab multiplies") {
    import org.apache.spark.sql.functions._
    // stage 2: re-feed the factor-2 output with baseScale = 2 (its key
    // span), factor 2 again → 4x the source, the sf100-from-sf10 path
    val dir2 = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_scaledata_spec2_${spark.sparkContext.applicationId}")
    ScaleData.generate(spark, dst, dir2.getAbsolutePath, 2, baseScale = 2L)
    Runtime.getRuntime.addShutdownHook(new Thread(() => graft.queries.TempPaths.delete(dir2)))
    val d2 = dir2.getAbsolutePath
    Seq("customer", "orders", "lineitem", "events", "documents").foreach { t =>
      assert(spark.read.parquet(s"$d2/$t.parquet").count() === 4 * src(t), t)
    }
    val o = spark.read.parquet(s"$d2/orders.parquet")
    val c = spark.read.parquet(s"$d2/customer.parquet")
    assert(o.select("o_orderkey").distinct().count() === o.count())
    assert(c.select("c_custkey").distinct().count() === c.count())
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti").count() === 0)
    // token universes disjoint across BOTH stages: vocab multiplies 4x
    val v0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    val v4 = spark.read.parquet(s"$d2/documents.parquet")
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    assert(v4 === 4 * v0, s"vocab $v0 -> $v4")
    // a WRONG baseScale fails loudly instead of aliasing keys
    val bad = new java.io.File(sys.props("java.io.tmpdir"), "graft_scaledata_bad")
    val ex = try intercept[IllegalArgumentException] {
      ScaleData.generate(spark, dst, bad.getAbsolutePath, 2, baseScale = 1L)
    } finally graft.queries.TempPaths.delete(bad)
    assert(ex.getMessage.contains("replicas would collide"))
  }

  test("replica token universes are disjoint (vocab doubles, texts salted)") {
    import org.apache.spark.sql.functions._
    val d0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val d2 = spark.read.parquet(s"$dst/documents.parquet")
    val v0 = d0.select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    val v2 = d2.select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .agg(countDistinct(col("t"))).head().getLong(0)
    assert(v2 === 2 * v0, s"vocab $v0 -> $v2")
    // n_chars contract holds in the derived data too
    assert(d2.filter(col("n_chars") =!= length(col("text"))).count() === 0)
  }
}
