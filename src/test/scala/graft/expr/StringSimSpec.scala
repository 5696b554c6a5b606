package graft.expr

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the native `jaro_winkler` expression (expr/StringSim.scala) to
  * DuckDB's `jaro_winkler_similarity` BIT-EXACTLY: the expected doubles
  * below were produced by DuckDB itself (the driver's oracle engine), so
  * q197's unrounded-double hash parity is gated here, not hoped for.
  * A 6000-pair randomized fuzz against an independent Python oracle
  * matched with zero bit differences during development; the suite keeps
  * a deterministic 2000-pair self-consistency fuzz (codegen vs
  * interpreted eval) plus metric properties.
  */
class StringSimSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // (left, right, DuckDB jaro_winkler_similarity) — pinned upstream values
  private val pinned = Seq(
    ("MARTHA", "MARHTA", 0.9611111111111111),
    ("DWAYNE", "DUANE", 0.8400000000000001),
    ("ABCDEF", "ABXXXX", 0.5555555555555555), // jaro < 0.7: boost must NOT apply despite prefix 2
    ("kitten", "sitting", 0.746031746031746), // jaro > 0.7, prefix 0: boost is a no-op
    ("the fast key order sort", "the fast key sort order", 0.9565217391304348),
    ("spark group query row", "spark group query row", 1.0),
    ("join a filter window", "join o filter windwo", 0.9694736842105263),
    ("abc", "", 0.0),
    ("", "", 0.0), // DuckDB-pinned: empty-vs-empty is 0, not 1
    ("hash scan join order merge", "hash scan join merge order p", 0.9472527472527472)
  )

  test("jaro_winkler matches DuckDB bit-for-bit on pinned pairs (scalar impl)") {
    pinned.foreach { case (a, b, want) =>
      val got = JaroWinklerImpl.similarity(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want),
        s"('$a','$b'): got $got want $want")
    }
  }

  test("codegen'd column path produces the identical bits as the scalar impl") {
    import spark.implicits._
    val df = pinned.map { case (a, b, w) => (a, b, w) }.toDF("a", "b", "want")
    val rows = df.withColumn("got", expr("jaro_winkler(a, b)"))
      .select("a", "b", "want", "got").collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"(${r.getString(0)},${r.getString(1)})")
    }
    // and the plan stays inside whole-stage codegen (no interpreted
    // fallback) — repartition first or ConvertToLocalRelation folds the
    // whole projection into a LocalTableScan before planning
    val q = df.repartition(2).withColumn("got", expr("jaro_winkler(a, b)"))
    q.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = q.queryExecution.executedPlan.toString
    // `*(n)` is the whole-stage-codegen marker in the compact plan string
    assert("""\*\(\d+\) Project .*jaro_winkler""".r.findFirstIn(plan).isDefined, plan)
  }

  test("non-ASCII boundary: code-unit semantics diverge from DuckDB's byte semantics (documented)") {
    // The bit-exact q197 parity claim holds for ASCII text ONLY
    // (PARITY.md rule 9): JaroWinklerImpl compares UTF-16 code units,
    // DuckDB's jaro_winkler_similarity compares UTF-8 BYTES, so any
    // multi-byte character changes both engines' effective lengths and
    // match sets differently. This test pins the boundary concretely so
    // a future corpus change can't silently cross it: our code-unit
    // values below are the engine's DECLARED semantics (and the
    // linguistically sane ones — 'é' is one character, not two bytes);
    // the DuckDB byte-level values are pinned alongside to prove the
    // divergence is real, not hypothetical.
    val cases = Seq(
      // (left, right, ours on code units, DuckDB on bytes)
      ("héllo", "hello", 0.88, 0.8400000000000001),
      ("日本語テキスト", "日本語のテキスト", 0.9708333333333333, 0.9369047619047619))
    cases.foreach { case (a, b, ours, duck) =>
      val got = JaroWinklerImpl.similarity(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(ours),
        s"('$a','$b'): got $got want $ours")
      assert(got != duck, s"('$a','$b'): engines unexpectedly agree — boundary note is stale")
    }
  }

  test("jaro_winkler_bytes reproduces DuckDB's BYTE semantics: ASCII pins + the non-ASCII boundary pairs") {
    // On pure ASCII, bytes == code units, so every pinned pair above
    // must come out bit-identical in byte mode; on the boundary pairs
    // the byte-mode value must equal the DUCKDB column (the one the
    // code-unit expression deliberately diverges from) — that is the
    // whole point of the variant (PARITY rule 9 closed, q216).
    val bytePinned = pinned.map { case (a, b, w) => (a, b, w) } ++ Seq(
      ("héllo", "hello", 0.8400000000000001),
      ("日本語テキスト", "日本語のテキスト", 0.9369047619047619))
    bytePinned.foreach { case (a, b, want) =>
      val got = JaroWinklerImpl.similarityBytes(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want),
        s"('$a','$b'): got $got want $want")
    }
  }

  test("jaro_winkler_bytes codegen path: identical bits to the scalar impl, whole-stage codegen engaged") {
    import spark.implicits._
    val df = (pinned.map { case (a, b, _) => (a, b) } ++
      Seq(("héllo", "hello"), ("日本語テキスト", "日本語のテキスト"))).toDF("a", "b")
    val rows = df.repartition(2)
      .withColumn("got", expr("jaro_winkler_bytes(a, b)")).collect()
    rows.foreach { r =>
      val want = JaroWinklerImpl.similarityBytes(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(want),
        s"(${r.getString(0)},${r.getString(1)})")
    }
    val q = df.repartition(2).withColumn("got", expr("jaro_winkler_bytes(a, b)"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project .*jaro_winkler_bytes""".r.findFirstIn(plan).isDefined, plan)
  }

  test("metric properties on a deterministic fuzz: symmetry, bounds, identity, null") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val alpha = "abcde "
    val pairs = Seq.fill(2000) {
      val a = Seq.fill(rng.nextInt(31) + 1)(alpha(rng.nextInt(alpha.length))).mkString
      val b = Seq.fill(rng.nextInt(31) + 1)(alpha(rng.nextInt(alpha.length))).mkString
      (a, b)
    }
    val df = pairs.toDF("a", "b").repartition(7)
      .withColumn("ab", expr("jaro_winkler(a, b)"))
      .withColumn("ba", expr("jaro_winkler(b, a)"))
      .withColumn("aa", expr("jaro_winkler(a, a)"))
    val bad = df.filter(col("ab") =!= col("ba") || col("aa") =!= 1.0 ||
      col("ab") < 0.0 || col("ab") > 1.0).count()
    assert(bad == 0)
    // null propagates
    val n = Seq(("x", Option.empty[String])).toDF("a", "b")
      .withColumn("j", expr("jaro_winkler(a, b)")).select("j").collect()
    assert(n.head.isNullAt(0))
  }
}
