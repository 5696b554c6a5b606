package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** AsOfJoinExec semantics vs an independent SQL formulation (correlated
  * max-per-probe), plus the operator's plan shape and edge cases: empty
  * right, null times, keys present on only one side, multi-column keys.
  * The broadcast distribution (`broadcast(right)`) is checked row-equal
  * to the shuffled one on each edge case.
  */
class AsOfJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def probes = {
    import spark.implicits._
    Seq(
      (1L, "a", 100L), (2L, "a", 205L), (3L, "a", 300L),
      (4L, "b", 50L), (5L, "b", 500L),
      (6L, "c", 10L),                      // key with no quotes at all
      (7L, "a", 200L)                      // exactly equal to a quote time
    ).toDF("pid", "k", "pt")
  }

  private def quotes = {
    import spark.implicits._
    Seq(
      ("a", 90L, 1.0), ("a", 200L, 2.0), ("a", 290L, 3.0),
      ("b", 60L, 4.0),                     // after probe 4, before probe 5
      ("d", 5L, 9.0)                       // key with no probes
    ).toDF("k2", "qt", "qv")
  }

  private def viaSql(): Set[(Long, Option[Long])] = {
    probes.createOrReplaceTempView("asof_p")
    quotes.createOrReplaceTempView("asof_q")
    spark.sql("""
      SELECT p.pid, q.qt
      FROM asof_p p
      LEFT JOIN (
        SELECT p2.pid AS pid2, MAX(q2.qt) AS best
        FROM asof_p p2 JOIN asof_q q2 ON p2.k = q2.k2 AND q2.qt <= p2.pt
        GROUP BY p2.pid) b ON p.pid = b.pid2
      LEFT JOIN asof_q q ON q.k2 = p.k AND q.qt = b.best
      ORDER BY p.pid""")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
  }

  test("asofJoin matches the correlated-max SQL formulation") {
    val got = AsOfJoinOps.asofJoin(probes, quotes, Seq.empty, "pt", "qt")
    // keyless as-of is legal but joins everything; here use keyed form
    val keyed = AsOfJoinOps.asofJoin(probes.withColumnRenamed("k", "kk"),
      quotes.withColumnRenamed("k2", "kk"), Seq("kk"), "pt", "qt")
      .select(col("pid"), col("qt"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
    assert(keyed === viaSql())
    assert(got.columns.toSeq ===
      Seq("pid", "k", "pt", "k2", "qt", "qv")) // schema: left ++ right, right nullable
  }

  test("empty right side yields all-null matches; plan shows AsOfJoinExec") {
    val empty = quotes.filter(lit(false))
    val out = AsOfJoinOps.asofJoin(probes, empty, Seq.empty, "pt", "qt")
    assert(out.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val rows = out.collect()
    assert(rows.length === probes.count())
    assert(rows.forall(_.isNullAt(4)))
  }

  test("inclusive match: probe at exactly a quote's time takes that quote") {
    val keyed = AsOfJoinOps.asofJoin(probes.withColumnRenamed("k", "kk"),
      quotes.withColumnRenamed("k2", "kk"), Seq("kk"), "pt", "qt")
    val p7 = keyed.filter(col("pid") === 7L).select("qt").collect()
    assert(p7.head.getLong(0) === 200L)
  }

  test("NULL keys never match (SQL equi-join semantics), either side") {
    import spark.implicits._
    val ps = Seq((1L, Some("a"), 100L), (2L, None, 100L), (3L, Some("b"), 100L))
      .toDF("pid", "kk", "pt")
    val qs = Seq((Some("a"), 50L, 1.0), (None, 50L, 2.0))
      .toDF("kk", "qt", "qv")
    val got = AsOfJoinOps.asofJoin(ps,
      qs.withColumnRenamed("kk", "k2"), Seq.empty, "pt", "qt") // keyless sanity below
    val keyed = AsOfJoinOps.asofJoin(ps, qs.toDF("kk", "qt", "qv"), Seq("kk"), "pt", "qt")
      .select("pid", "qv").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // pid 1 matches the 'a' quote; pid 2 (NULL key) matches NOTHING even
    // though a NULL-keyed quote exists; pid 3 has no 'b' quote
    assert(keyed === Map(1L -> Some(1.0), 2L -> None, 3L -> None))
    assert(got.count() === 3) // keyless form planned + ran
  }

  test("keyless as-of: every probe takes the globally latest quote at or before it") {
    import spark.implicits._
    val ps = Seq((1L, 5L), (2L, 100L), (3L, 250L)).toDF("pid", "pt")
    val qs = Seq((10L, "x"), (90L, "y"), (200L, "z")).toDF("qt", "qn")
    val got = AsOfJoinOps.asofJoin(ps, qs, Seq.empty, "pt", "qt")
      .select("pid", "qn").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getString(1)))).toMap
    assert(got === Map(1L -> None, 2L -> Some("y"), 3L -> Some("z")))
  }

  test("multi-column keys merge correctly across key boundaries") {
    import spark.implicits._
    val ps = (1 to 500).map { i =>
      (i.toLong, (i % 5).toLong, s"g${i % 3}", (i * 11L) % 400)
    }.toDF("pid", "k1", "k2", "pt")
    val qs = (1 to 100).map { i =>
      ((i % 5).toLong, s"g${i % 3}", (i * 17L) % 400, i.toLong)
    }.toDF("k1", "k2", "qt", "qid")
    val viaOp = AsOfJoinOps.asofJoin(ps,
        qs.groupBy("k1", "k2", "qt").agg(max("qid").as("qid")), Seq("k1", "k2"), "pt", "qt")
      .select(col("pid"), col("qt")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    ps.createOrReplaceTempView("asof_mp")
    qs.createOrReplaceTempView("asof_mq")
    val viaSql = spark.sql("""
      SELECT p.pid, MAX(q.qt) AS best
      FROM asof_mp p LEFT JOIN asof_mq q
        ON p.k1 = q.k1 AND p.k2 = q.k2 AND q.qt <= p.pt
      GROUP BY p.pid""").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(viaOp === viaSql)
  }

  test("strict variant skips quotes at exactly the probe time") {
    val keyed = AsOfJoinOps.asofJoin(probes.withColumnRenamed("k", "kk"),
      quotes.withColumnRenamed("k2", "kk"), Seq("kk"), "pt", "qt", strict = true)
      .select(col("pid"), col("qt")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // probe 7 (pt=200) must now take the 90 quote, NOT the tied 200 one;
    // probe 2 (pt=205) still takes 200 (strictly earlier)
    assert(keyed(7L) === Some(90L))
    assert(keyed(2L) === Some(200L))
    assert(keyed(4L) === None)    // b@50: only quote is b@60, in the future
    assert(keyed(6L) === None)
  }

  test("tolerance nulls matches older than the bound, per probe") {
    val keyed = AsOfJoinOps.asofJoin(probes.withColumnRenamed("k", "kk"),
      quotes.withColumnRenamed("k2", "kk"), Seq("kk"), "pt", "qt",
      toleranceUs = Some(10L))
      .select(col("pid"), col("qt")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // pid 1 (pt=100, best=90, gap 10) within; pid 2 (pt=205, best=200,
    // gap 5) within; pid 3 (pt=300, best=290, gap 10) within; pid 5
    // (pt=500, best=60, gap 440) nulled; pid 7 (pt=200, gap 0) within
    assert(keyed === Map(1L -> Some(90L), 2L -> Some(200L), 3L -> Some(290L),
      4L -> None, 5L -> None, 6L -> None, 7L -> Some(200L)))
    // the tolerance is re-checked per probe: the SAME retained match can
    // be within bound for one probe and out of bound for a later one
    val tight = AsOfJoinOps.asofJoin(probes.withColumnRenamed("k", "kk"),
      quotes.withColumnRenamed("k2", "kk"), Seq("kk"), "pt", "qt",
      toleranceUs = Some(5L))
      .select(col("pid"), col("qt")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(tight(1L) === None)    // gap 10 > 5
    assert(tight(2L) === Some(200L))
  }

  test("TimestampType time columns join on epoch micros; tolerance is in micros") {
    import spark.implicits._
    val ps = Seq((1L, "a", 1000000L), (2L, "a", 5000000L)).toDF("pid", "kk", "ptu")
      .withColumn("pt", timestamp_micros(col("ptu"))).drop("ptu")
    val qs = Seq(("a", 900000L, 1.0), ("a", 1500000L, 2.0)).toDF("kk", "qtu", "qv")
      .withColumn("qt", timestamp_micros(col("qtu"))).drop("qtu")
      .select("kk", "qt", "qv")
    val got = AsOfJoinOps.asofJoin(ps, qs, Seq("kk"), "pt", "qt")
      .select("pid", "qv").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1L -> 1.0, 2L -> 2.0))
    val bounded = AsOfJoinOps.asofJoin(ps, qs, Seq("kk"), "pt", "qt",
      toleranceUs = Some(200000L))                  // 0.2s: probe 2 is 3.5s late
      .select("pid", "qv").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(bounded === Map(1L -> Some(1.0), 2L -> None))
  }

  test("mixed Long/Timestamp time columns are rejected") {
    import spark.implicits._
    val ps = Seq((1L, 10L)).toDF("pid", "pt")
    val qs = Seq((5L, 1.0)).toDF("qtu", "qv")
      .withColumn("qt", timestamp_micros(col("qtu"))).drop("qtu")
    val e = intercept[IllegalArgumentException] {
      AsOfJoinOps.asofJoin(ps, qs, Seq.empty, "pt", "qt")
    }
    assert(e.getMessage.contains("LongType or both TimestampType"))
  }

  test("mismatched key types are rejected with a clear error") {
    import spark.implicits._
    val ps = Seq((1, 10L)).toDF("kk", "pt")               // kk: Int
    val qs = Seq((1L, 5L)).toDF("kk", "qt")               // kk: Long
    val e = intercept[IllegalArgumentException] {
      AsOfJoinOps.asofJoin(ps, qs, Seq("kk"), "pt", "qt")
    }
    assert(e.getMessage.contains("type mismatch"))
  }

  test("forward variant takes the earliest quote at or after each probe") {
    val keyed = AsOfJoinOps.asofJoin(probes.withColumnRenamed("k", "kk"),
      quotes.withColumnRenamed("k2", "kk"), Seq("kk"), "pt", "qt", forward = true)
      .select(col("pid"), col("qt")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // pid 1 (pt=100) -> a@200; pid 2 (pt=205) -> a@290; pid 3 (pt=300) ->
    // nothing ahead; pid 4 (b@50) -> b@60 (the backward-null case flips);
    // pid 5 (b@500) -> none; pid 7 (pt=200) -> the tied a@200 (inclusive)
    assert(keyed === Map(1L -> Some(200L), 2L -> Some(290L), 3L -> None,
      4L -> Some(60L), 5L -> None, 6L -> None, 7L -> Some(200L)))
  }

  test("forward strict skips the tied quote; forward tolerance bounds the wait") {
    val strictFwd = AsOfJoinOps.asofJoin(probes.withColumnRenamed("k", "kk"),
      quotes.withColumnRenamed("k2", "kk"), Seq("kk"), "pt", "qt",
      strict = true, forward = true)
      .select(col("pid"), col("qt")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // probe 7 (pt=200) must skip the tied 200 quote and take 290
    assert(strictFwd(7L) === Some(290L))
    assert(strictFwd(1L) === Some(200L))
    val bounded = AsOfJoinOps.asofJoin(probes.withColumnRenamed("k", "kk"),
      quotes.withColumnRenamed("k2", "kk"), Seq("kk"), "pt", "qt",
      toleranceUs = Some(10L), forward = true)
      .select(col("pid"), col("qt")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // pid 4 (b@50 -> b@60, gap 10) within; pid 1 (a@100 -> a@200, gap
    // 100) nulled; pid 7 (gap 0) within
    assert(bounded === Map(1L -> None, 2L -> None, 3L -> None,
      4L -> Some(60L), 5L -> None, 6L -> None, 7L -> Some(200L)))
  }

  test("forward agrees with the correlated-min SQL on randomized larger data") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813)
    val ps = (1 to 8000).map(i => (i.toLong, (rnd.nextInt(15)).toString, rnd.nextInt(4000).toLong))
      .toDF("pid", "kk", "pt")
    val qs = (1 to 900).map(i => ((rnd.nextInt(15)).toString, rnd.nextInt(4000).toLong, i.toDouble))
      .toDF("kk", "qt", "qv")
    val uq = qs.groupBy("kk", "qt").agg(max("qv").as("qv"))
    for (strict <- Seq(false, true)) {
      val viaOp = AsOfJoinOps.asofJoin(ps, uq, Seq("kk"), "pt", "qt",
          strict = strict, forward = true)
        .select(col("pid"), col("qt")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      ps.createOrReplaceTempView("asof_fp")
      uq.createOrReplaceTempView("asof_fq")
      val cmp = if (strict) ">" else ">="
      val viaSql = spark.sql(s"""
        SELECT p.pid, MIN(q.qt) AS best
        FROM asof_fp p LEFT JOIN asof_fq q ON p.kk = q.kk AND q.qt $cmp p.pt
        GROUP BY p.pid""").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(viaOp === viaSql, s"strict=$strict")
    }
  }

  test("survives a repartition/sort already in place and larger data") {
    import spark.implicits._
    // 10k probes / 1k quotes over 20 keys — checks the merge across
    // partition-internal key boundaries
    val ps = (1 to 10000).map(i => (i.toLong, (i % 20).toString, (i * 7L) % 5000))
      .toDF("pid", "kk", "pt")
    val qs = (1 to 1000).map(i => ((i % 20).toString, (i * 31L) % 5000, i.toDouble))
      .toDF("kk", "qt", "qv")
    val viaOp = AsOfJoinOps.asofJoin(ps, qs.groupBy("kk", "qt").agg(max("qv").as("qv")),
        Seq("kk"), "pt", "qt")
      .select(col("pid"), col("qt"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    ps.createOrReplaceTempView("asof_p2")
    qs.createOrReplaceTempView("asof_q2")
    val viaSql2 = spark.sql("""
      SELECT p.pid, MAX(q.qt) AS best
      FROM asof_p2 p LEFT JOIN asof_q2 q ON p.kk = q.kk AND q.qt <= p.pt
      GROUP BY p.pid""")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(viaOp === viaSql2)
  }

  test("a grouped aggregate over the join counts each key's matched probes") {
    import spark.implicits._
    val ps = Seq(
      (1L, "a", 100L), (2L, "a", 205L), (3L, "a", 300L),
      (4L, "b", 50L), (5L, "b", 500L), (6L, "c", 10L), (7L, "a", 200L),
      (8L, "d", 1000L), (9L, "b", 60L)
    ).toDF("pid", "kk", "pt")
    val qs = Seq(
      ("a", 90L, 1.0), ("a", 200L, 2.0), ("a", 290L, 3.0),
      ("b", 60L, 4.0), ("d", 5L, 9.0), ("e", 1L, 7.0)
    ).toDF("kk", "qt", "qv")
    val got = AsOfJoinOps.asofJoin(ps, qs, Seq("kk"), "pt", "qt")
      .groupBy("kk").agg(count(col("qv")).as("n_matched"))
      .orderBy("kk")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // a: probes 1/2/3/7 all have a quote at-or-before; b: probes 5 and 9
    // (t=60 inclusive); c: no quotes; d: probe 8 matches the t=5 quote
    assert(got === Seq(("a", 4L), ("b", 2L), ("c", 0L), ("d", 1L)))
  }

  /** The broadcast distribution (`broadcast(right)`) against the
    * shuffled one on the same inputs: the rows must be equal, and each
    * frame must have planned the mode it was asked for. Returns the
    * broadcast-mode frame.
    */
  private def sameInBothModes(l: DataFrame, r: DataFrame, keys: Seq[String],
      strict: Boolean = false, tol: Option[Long] = None, fwd: Boolean = false): DataFrame = {
    val shuffled = AsOfJoinOps.asofJoin(l, r, keys, "pt", "qt", strict, tol, fwd)
    val bcast = AsOfJoinOps.asofJoin(l, broadcast(r), keys, "pt", "qt", strict, tol, fwd)
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    assert(rows(bcast) === rows(shuffled), s"strict=$strict tol=$tol fwd=$fwd")
    assert(bcast.columns.toSeq === shuffled.columns.toSeq)
    assert(bcast.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    assert(!shuffled.queryExecution.executedPlan.toString.contains("BroadcastExchange"))
    bcast
  }

  private def keyedProbes = probes.withColumnRenamed("k", "kk")
  private def keyedQuotes = quotes.withColumnRenamed("k2", "kk")

  test("broadcast mode equals the shuffled mode on randomized data, all variants") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813)
    val ps = (1 to 400).map(i =>
      (i.toLong, s"k${rnd.nextInt(6)}", rnd.nextInt(1000).toLong)).toDF("pid", "k", "pt")
    // unique (k, qt) on the right, so tie-breaking cannot differ
    val qs = (1 to 150).map(i => (s"k${i % 8}", (i * 13L) % 1000, i.toDouble))
      .distinct.toDF("k", "qt", "qv")
      .groupBy("k", "qt").agg(max("qv").as("qv"))
    for {
      strict <- Seq(false, true)
      forward <- Seq(false, true)
      tol <- Seq(None, Some(120L))
    } sameInBothModes(ps, qs, Seq("k"), strict, tol, forward)
  }

  test("broadcast mode: the probe side never shuffles (AsOfJoin over a BroadcastExchange)") {
    import spark.implicits._
    val ps = (1 to 50).map(i => (i.toLong, s"k${i % 3}", i * 7L)).toDF("pid", "k", "pt")
    val qs = Seq(("k0", 10L, 1.0), ("k1", 20L, 2.0)).toDF("k", "qt", "qv")
    val df = AsOfJoinOps.asofJoin(ps, broadcast(qs), Seq("k"), "pt", "qt")
    df.collect() // materialize so AQE finalizes the plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin") && p.contains("BroadcastExchange"), s"not broadcast mode:\n$p")
    assert(!p.contains("hashpartitioning"), s"a side was hash-shuffled:\n$p")
    // left ++ right minus keys; keys with no quotes yield null right columns
    assert(df.columns.toSeq === Seq("pid", "k", "pt", "qt", "qv"))
    val missing = df.filter(col("k") === "k2")
    assert(missing.count() > 0 && missing.filter(col("qv").isNotNull).count() === 0)
  }

  test("broadcast mode, keyless: every probe takes the globally latest quote, as shuffled") {
    val df = sameInBothModes(probes, quotes, Seq.empty)
    assert(df.filter(col("pid") === 4L).select("qt").head().getLong(0) === 5L)
  }

  test("broadcast mode, empty right: every probe is kept with null matches, as shuffled") {
    val empty = keyedQuotes.filter(lit(false))
    val keyed = sameInBothModes(keyedProbes, empty, Seq("kk"))
    assert(keyed.count() === probes.count() && keyed.filter(col("qt").isNotNull).count() === 0)
    assert(sameInBothModes(probes, quotes.filter(lit(false)), Seq.empty).count() === probes.count())
  }

  test("broadcast mode: null right times and keys never match, as shuffled") {
    import spark.implicits._
    val ps = Seq((1L, Some("a"), Some(100L)), (2L, None, Some(100L)), (3L, Some("b"), Some(100L)),
      (4L, Some("a"), None), (5L, Some("a"), Some(40L))).toDF("pid", "kk", "pt")
    val qs = Seq((Some("a"), Some(50L), 1.0), (None, Some(50L), 2.0), (Some("a"), None, 3.0),
      (Some("b"), None, 4.0), (None, None, 5.0), (Some("a"), Some(30L), 6.0)).toDF("kk", "qt", "qv")
    for (strict <- Seq(false, true); fwd <- Seq(false, true)) {
      val got = sameInBothModes(ps, qs, Seq("kk"), strict = strict, fwd = fwd)
        .select("pid", "qv").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      // NULL-keyed and NULL-timed quotes never match, nor do such probes
      assert(got(2L) === None && got(3L) === None && got(4L) === None)
      if (!fwd) assert(got(1L) === Some(1.0) && got(5L) === Some(6.0))
    }
  }

  test("broadcast mode: TimestampType time columns with a tolerance in micros, as shuffled") {
    import spark.implicits._
    val ps = Seq((1L, "a", 1000000L), (2L, "a", 5000000L), (3L, "b", 2000000L)).toDF("pid", "kk", "ptu")
      .withColumn("pt", timestamp_micros(col("ptu"))).drop("ptu")
    val qs = Seq(("a", 900000L, 1.0), ("a", 1500000L, 2.0), ("b", 2100000L, 3.0)).toDF("kk", "qtu", "qv")
      .withColumn("qt", timestamp_micros(col("qtu"))).drop("qtu")
    for (fwd <- Seq(false, true); tol <- Seq(None, Some(200000L))) {
      val got = sameInBothModes(ps, qs, Seq("kk"), tol = tol, fwd = fwd)
        .select("pid", "qv").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      if (!fwd && tol.isDefined) assert(got === Map(1L -> Some(1.0), 2L -> None, 3L -> None))
      if (fwd && tol.isDefined) assert(got === Map(1L -> None, 2L -> None, 3L -> Some(3.0)))
    }
  }

  test("broadcast mode: forward and strict variants on tied quote times, as shuffled") {
    for (strict <- Seq(false, true); fwd <- Seq(false, true)) {
      val got = sameInBothModes(keyedProbes, keyedQuotes, Seq("kk"), strict = strict, fwd = fwd)
        .select("pid", "qt").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      // probe 7 sits exactly on the a@200 quote
      val expect7 = (strict, fwd) match {
        case (false, _)    => 200L
        case (true, false) => 90L
        case (true, true)  => 290L
      }
      assert(got(7L) === Some(expect7), s"strict=$strict fwd=$fwd")
    }
  }

  test("broadcast mode plans and matches with AQE off (the Audit session)") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val df = sameInBothModes(keyedProbes, keyedQuotes, Seq("kk"), strict = true)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("AdaptiveSparkPlan") && p.contains("AsOfJoin"), p)
      assert(!p.contains("hashpartitioning"), s"a side was hash-shuffled:\n$p")
    } finally spark.conf.set(key, prev)
  }
}
