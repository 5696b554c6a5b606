package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver's parquet test tables (TESTDATA.md).
  *
  * All tables load as plain parquet scans so Catalyst keeps predicate
  * pushdown and column pruning (SURVEY.md §4). The physical type of
  * `events.ts` has drifted across testdata refreshes — parquet
  * TIMESTAMP(NANOS) (read as LongType under
  * `spark.sql.legacy.parquet.nanosAsLong=true`) through round 5,
  * TIMESTAMP(μs) (read as TIMESTAMP_NTZ) from round 6 — so the loader
  * dispatches on the observed type ([[normalizeEventTs]]) and always
  * exposes the same logical columns: `ts_ns` / `ts_us` (epoch nanos /
  * micros, LongType) so query math stays exact integer arithmetic —
  * identical to DuckDB's `epoch_us(ts)`. An unrecognized type fails
  * fast with a message naming the drift instead of erroring 40 queries
  * deep.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns the engine's queries depend on, per table — the load-time
    * drift guard. A refresh that RENAMES or DROPS one of these would
    * otherwise surface as dozens of UNRESOLVED_COLUMN failures deep in
    * query code (the round-6 lesson, generalized from events.ts); extra
    * or reordered columns pass untouched (additive drift is fine —
    * queries select by name).
    */
  private val requiredColumns: Map[String, Seq[String]] = Map(
    "region"     -> Seq("r_regionkey", "r_name"),
    "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part"       -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                        "o_orderdate", "o_orderpriority"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                        "l_linestatus", "l_shipdate"),
    "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    requiredColumns.get(name).foreach { req =>
      val have = df.columns.toSet
      val missing = req.filterNot(have)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"$name.parquet is missing expected column(s) ${missing.mkString(", ")} " +
          s"(has: ${df.columns.mkString(", ")}) — testdata refreshed with a " +
          "renamed/dropped column? Update Tables.requiredColumns and the " +
          "queries that read it.")
    }
    df
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events` with the raw `ts` normalized to `ts_ns` plus `ts_us`
    * (see [[normalizeEventTs]]) — DuckDB reads the same parquet as
    * TIMESTAMP (μs), so oracle-checked queries must do their time math
    * on `ts_us` (`epoch_us(ts)` on the DuckDB side).
    *
    * Pushdown caveat for library users: when the file ships `ts` as a
    * TIMESTAMP, `ts_ns`/`ts_us` are DERIVED columns
    * (`unix_micros(ts)`), so a range predicate on them evaluates above
    * the scan — parquet row-group pruning does not see it. For a
    * selective time-range scan at scale use [[eventsInRange]], which
    * filters the RAW column (pushable) and normalizes after.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))

  /** `events` restricted to `[lowUs, highUs)` (epoch micros) with the
    * range predicate applied to the RAW `ts` column BEFORE
    * normalization, whatever physical type the file ships —
    * [[tsLiteral]] builds literals of the matching type, so the
    * comparison reaches the parquet scan as a pushed filter and
    * row-group statistics prune non-overlapping groups without
    * decoding them. At 100 TB this is the difference between scanning
    * a day and scanning a year; plan-pinned in PlanAuditSpec (q160).
    * Output schema identical to [[events]] (`ts_ns`/`ts_us`).
    */
  def eventsInRange(s: SparkSession, d: String, lowUs: Long, highUs: Long): DataFrame = {
    val raw = load(s, d, "events")
    val dt = raw.schema("ts").dataType
    normalizeEventTs(raw.filter(
      col("ts") >= tsLiteral(lowUs, dt) && col("ts") < tsLiteral(highUs, dt)))
  }

  /** Schema-adaptive normalization of an events frame's `ts` column to
    * exact integer epoch columns `ts_ns` (replacing `ts`, same position)
    * and `ts_us` (appended). Accepts every physical type the driver
    * testdata has shipped:
    *
    *   - `LongType` — epoch nanoseconds (parquet TIMESTAMP(NANOS) under
    *     nanosAsLong); `ts_us = ts_ns div 1000`.
    *   - `TIMESTAMP` / `TIMESTAMP_NTZ` — parquet TIMESTAMP(μs); the
    *     session TZ is pinned UTC ([[sessionConfigs]]) so the NTZ→LTZ
    *     cast is exact and `ts_ns = unix_micros(ts) * 1000` is lossless
    *     (the data is μs-precision).
    *
    * Anything else fails fast, naming the drift — the loader is the one
    * seam every events query rides, so drift must die here, not 40
    * queries downstream.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val withNs = df.schema("ts").dataType match {
      case LongType =>
        df.withColumnRenamed("ts", "ts_ns")
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
          .withColumnRenamed("ts", "ts_ns")
      case other =>
        throw new IllegalStateException(
          s"events.ts is $other — testdata refreshed to a new physical type? " +
            "Expected LONG (epoch-nanos), TIMESTAMP or TIMESTAMP_NTZ; teach " +
            "Tables.normalizeEventTs the new type.")
    }
    withNs.withColumn("ts_us", expr("ts_ns div 1000"))
  }

  /** The streaming-side twin of [[normalizeEventTs]]: normalize `ts` to
    * a session-TZ `TimestampType` column (what watermarks and window()
    * need), whatever physical type the source schema carries. Works on
    * streaming frames — dispatch is on the static schema only.
    */
  def tsAsTimestamp(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType            => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampType       => df
    case TimestampNTZType    => df.withColumn("ts", col("ts").cast(TimestampType))
    case other: DataType =>
      throw new IllegalStateException(
        s"events.ts is $other — testdata refreshed to a new physical type? " +
          "Expected LONG (epoch-nanos), TIMESTAMP or TIMESTAMP_NTZ; teach " +
          "Tables.tsAsTimestamp the new type.")
  }

  /** A `ts` literal from epoch micros, of the same physical type as the
    * raw column — for sentinel rows that must union cleanly with the
    * staged events file whatever type the testdata currently ships.
    */
  def tsLiteral(epochUs: Long, dt: DataType): Column = dt match {
    case LongType         => lit(epochUs * 1000L) // epoch nanos
    case TimestampType    => timestamp_micros(lit(epochUs))
    case TimestampNTZType => timestamp_micros(lit(epochUs)).cast(TimestampNTZType)
    case other =>
      throw new IllegalStateException(
        s"events.ts is $other — testdata refreshed to a new physical type? " +
          "Teach Tables.tsLiteral the new type.")
  }

  /** Required session settings for reading the test tables. No
    * `spark.sql.streaming.*` key belongs here: it would reach every
    * stream on the session. The bounded-replay gates scope their own
    * (no-data micro-batches off) in `graft.streaming.GateRun`.
    */
  def sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // deployment-grade extension loading: native functions, the as-of
    // strategy, and the as-of codegen shield rule (the AQE prep rule is
    // ONLY injectable here — there is no imperative post-session hook
    // for query-stage prep rules)
    "spark.sql.extensions" -> "graft.expr.GraftExtensions",
    // The reference's R semantics are permissive (NaN-guards, NA casts —
    // SURVEY.md §2.I4/I10); ANSI hard-errors would change behavior.
    // Division-by-zero is still guarded explicitly in each query for
    // DuckDB parity (DuckDB: double x/0 → NULL; Java: ±Inf).
    "spark.sql.ansi.enabled" -> "false")
}
