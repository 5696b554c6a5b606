package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived scale-up generator for the round-9 sf1 scale-proof:
  * replicates the driver's sf0.1 testdata `factor`× with disjoint
  * key ranges so every referential relationship (orders→customer,
  * lineitem→orders/part/supplier, events.user_id→customer) holds
  * WITHIN each replica and never across — cardinalities, join fan-outs,
  * and group sizes all scale linearly, which is exactly the property a
  * scaling-exponent measurement needs. Dims (region, nation) stay
  * fixed, as they would at any SF.
  *
  * Documents get replica-salted TOKENS (`tok` → `tok_rK`) so the
  * near-dup corpus scales honestly: in-replica duplicate structure is
  * identical to sf0.1 while cross-replica Jaccard is 0 — without the
  * salt, every replica of a document is an exact duplicate of 9
  * others and the dedup graph quadratically densifies BY CONSTRUCTION,
  * which would measure the synthetic data, not the plan. n_chars is
  * recomputed (it equals length(text) in the source data). Embedding
  * vectors are replicated as-is (10× points per IVF cell; ties on
  * exact distance resolve by the id tiebreaks every ANN query pins).
  *
  * `sbt "runMain graft.ScaleData /root/testdata/sf0.1 <dstDir> 10"`
  * This is builder tooling for SCALING.md measurements, not part of
  * the query surface; the driver's own testdata stays authoritative
  * for the correctness gate at sf0.001/0.01/0.1.
  *
  * Fourth arg `baseScale` (default 1) multiplies every shift base, so
  * a PREVIOUSLY DERIVED dataset can feed a second scale-up stage: a
  * factor-F output of this generator has keys spanning F× the sf0.1
  * ranges, so re-feeding it with `baseScale = F` keeps the replicas
  * disjoint (e.g. sf100 = sf10 replicated ×10 with baseScale 100 —
  * the 10-branch union plan stays cheap where a factor-1000 run from
  * sf0.1 would build a 1000-branch plan). The max-key guard below
  * checks against the SCALED bases, so a wrong baseScale still fails
  * loudly instead of aliasing keys.
  */
object ScaleData {

  // disjoint-shift bases, each a clean decade above the sf0.1 max key
  private val C = 100000L   // customer / events.user_id
  private val O = 1000000L  // orders / lineitem.l_orderkey
  private val P = 100000L   // part
  private val S = 10000L    // supplier
  private val E = 1000000L  // events.event_id
  private val D = 100000L   // documents
  private val V = 100000L   // embeddings

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.drop(1).headOption.getOrElse("/root/repo/scaledata/sf1")
    val factor = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val baseScale = args.drop(3).headOption.map(_.toLong).getOrElse(1L)
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    try generate(spark, src, dst, factor, baseScale)
    finally spark.stop()
  }

  /** Session-agnostic core (ScaleDataSpec drives it on the shared test
    * session, which must not be stopped).
    */
  def generate(spark: SparkSession, src: String, dst: String, factor: Int,
               baseScale: Long = 1L): Unit = {
    new java.io.File(dst).mkdirs()
    val (c, o, p0, s0, e, d0, v) =
      (C * baseScale, O * baseScale, P * baseScale, S * baseScale,
        E * baseScale, D * baseScale, V * baseScale)

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // The disjoint-replica guarantee holds only while every source key
    // stays below its shift base — feeding a bigger source (e.g. a
    // derived sf1 back in) would silently alias keys across replicas
    // and corrupt every measurement downstream. Fail loudly instead.
    Seq(
      ("customer", "c_custkey", c), ("orders", "o_orderkey", o),
      ("orders", "o_custkey", c), ("lineitem", "l_orderkey", o),
      ("part", "p_partkey", p0), ("supplier", "s_suppkey", s0),
      ("events", "event_id", e), ("events", "user_id", c),
      ("documents", "doc_id", d0), ("embeddings", "vec_id", v)
    ).foreach { case (t, k, base) =>
      val mx = read(t).agg(max(col(k))).head().getLong(0)
      require(mx < base,
        s"ScaleData: $t.$k max $mx >= shift base $base — replicas would collide; " +
          "raise the base (baseScale arg) or use a smaller source")
    }

    // Small outputs: single FILE per table, exactly like the driver's
    // layout. Large outputs (≳256 MB estimated): a DIRECTORY named
    // "<t>.parquet" written at full parallelism — a coalesce(1) write
    // serializes the whole table through ONE parquet writer task, which
    // at sf100 means ~1 h for lineitem alone (measured round 12: the
    // single-task orders write burned 15+ min before being killed).
    // Every consumer handles both shapes: Spark's parquet reader takes
    // files and directories alike; tools/check_oracle globs
    // "<path>/*.parquet" when the path is a directory (DuckDB's
    // read_parquet accepts globs, just not bare directory paths); and
    // TempPaths.stageFile (the streaming queries' watched-dir staging)
    // copies a directory's part files flat into the staged dir — a
    // plain Files.copy would stage an EMPTY dir and the stream would
    // read 0 rows (caught by the round-12 advisor before any sf100
    // streaming run hit it).
    def pathSize(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(pathSize).sum else f.length()

    def writeSingle(df: DataFrame, t: String): Unit = {
      val tmp = s"$dst/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $t"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dst/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      graft.queries.TempPaths.delete(new java.io.File(tmp))
      println(s"[scaledata] $t -> $dst/$t.parquet")
    }

    def writeParallel(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaledata] $t -> $dst/$t.parquet (parallel dir)")
    }

    def replicate(t: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      val out = (0 until factor).map(r => shift(base, r)).reduce(_.unionByName(_))
      val estBytes = pathSize(new java.io.File(s"$src/$t.parquet")) * factor
      if (estBytes > (256L << 20)) writeParallel(out, t) else writeSingle(out, t)
    }

    // dims: fixed at any SF
    Seq("region", "nation").foreach(t => writeSingle(read(t), t))

    replicate("customer") { (df, r) => df.withColumn("c_custkey", col("c_custkey") + lit(r * c)) }
    replicate("supplier") { (df, r) => df.withColumn("s_suppkey", col("s_suppkey") + lit(r * s0)) }
    replicate("part") { (df, r) => df.withColumn("p_partkey", col("p_partkey") + lit(r * p0)) }
    replicate("orders") { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * o))
        .withColumn("o_custkey", col("o_custkey") + lit(r * c))
    }
    replicate("lineitem") { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * o))
        .withColumn("l_partkey", col("l_partkey") + lit(r * p0))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * s0))
    }
    // Events replicas are disjoint in TIME as well as in keys: replica r
    // is shifted r × (source span + 1 day), so the derived stream models
    // a longer history at the SOURCE's arrival rate. Without the shift,
    // all replicas share identical timestamps and every 10-minute bin
    // gets factor× denser — which makes GLOBAL time-window queries
    // (q84's trailing window, q99's concurrency) quadratic in the
    // replication factor BY CONSTRUCTION: measured round 12, q84's
    // bin-join volume was 4.8M rows at sf0.1 but 48.3B at a same-ts
    // sf10 (100× per decade), i.e. the synthetic densification — not
    // the plan — dominated the measurement. Disjoint time keeps every
    // measured exponent an isolated function of data VOLUME, the same
    // property the disjoint key ranges give the join/agg families.
    // Per-key behavior (as-of joins, per-user windows, watermarks) is
    // unaffected: user keys never cross replicas, and a uniform shift
    // within a replica preserves every intra-replica time relation.
    // The shift preserves the column's source storage type, dispatching
    // on the same three physical shapes Tables.tsAsTimestamp supports:
    // timestamp/NTZ shift by an INTERVAL (NTZ stays NTZ); the LongType
    // epoch-nanos shape shifts the raw long (a cast('timestamp') there
    // would read the long as SECONDS — garbage stride — and
    // ts + INTERVAL fails analysis on a long). Unknown types fail with
    // the loaders' "teach me the new type" error rather than silently
    // producing a wrong stride.
    val eventsSrc = read("events")
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val tsUs = eventsSrc.schema("ts").dataType match {
      case LongType                          => expr("ts div 1000") // epoch nanos
      case TimestampType | TimestampNTZType  => unix_micros(col("ts").cast("timestamp"))
      case other => throw new IllegalStateException(
        s"events.ts is $other — testdata refreshed to a new physical type? " +
          "Teach ScaleData's time-shift dispatch (and Tables.tsAsTimestamp) the new type.")
    }
    val tsBounds = eventsSrc.agg(min(tsUs), max(tsUs)).head()
    require(!tsBounds.isNullAt(0),
      "ScaleData: events is empty — no time span to derive the replica stride from")
    val strideUs = tsBounds.getLong(1) - tsBounds.getLong(0) + 86400000000L
    def shiftTs(r: Int): Column = eventsSrc.schema("ts").dataType match {
      case LongType => col("ts") + lit(r * strideUs * 1000L) // nanos
      case _        => col("ts") + expr(s"INTERVAL '${r * strideUs}' MICROSECOND")
    }
    replicate("events") { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * e))
        .withColumn("user_id", col("user_id") + lit(r * c))
        .withColumn("ts", shiftTs(r))
    }
    replicate("documents") { (df, r) =>
      // The salt must be unique PER STAGE as well as per replica: a
      // bare "_r1" in a second-stage run would reproduce the
      // first-stage "_r1" tokens verbatim, making stage-2 replica 1 of
      // stage-1 replica 0 an EXACT token-level duplicate of stage-1
      // replica 1 — cross-replica Jaccard 1, the densification this
      // salt exists to prevent (caught by ScaleDataSpec's two-stage
      // vocab pin: 3x instead of 4x). baseScale > 1 runs therefore
      // qualify the salt with the stage ("_b<baseScale>r<r>"), which
      // can never equal any "_r<k>" or other-stage suffix; baseScale=1
      // keeps the original spelling so existing derived sets stay
      // reproducible.
      val salt = if (baseScale == 1L) s"_r$r" else s"_b${baseScale}r$r"
      val salted =
        if (r == 0) df
        else df.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1$salt"))
      salted
        .withColumn("doc_id", col("doc_id") + lit(r * d0))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    replicate("embeddings") { (df, r) => df.withColumn("vec_id", col("vec_id") + lit(r * v)) }
  }
}
