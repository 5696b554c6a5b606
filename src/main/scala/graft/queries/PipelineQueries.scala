package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.streaming.{EventWindows, GateRun}

/** Training-data-pipeline extensions through the driver gate (builder
  * prompt north-star): BPE-ish regex tokenization, the streaming window
  * surface run as a real Structured Streaming query, the multimodal
  * mapPartitions decode path, and cube/grouping_id (§2.D "free if
  * extended" closure).
  */
object PipelineQueries extends QueryModule {

  /** Null-safe per-row fold for the q163/q164 round-trip gates: every
    * documents column cast to string with a chr(1) sentinel for NULL, so
    * concat_ws (which skips nulls) and DuckDB's || (which propagates
    * them) compute the SAME bytes whatever the corpus contains.
    */
  private def rowFoldCols(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Column] =
    Seq("doc_id", "lang", "source", "n_chars", "text")
      .map(c => coalesce(df.col(c).cast("string"), lit("\u0001")))

  /** The round-trip gates' null sentinel can collide with DATA: a field
    * whose literal value is the two-char string \N would round-trip to
    * NULL. No sentinel string is collision-proof in principle, so make
    * the precondition explicit -- fail with the reason instead of a
    * confusing hash diff (same pattern as q165's vocab guard).
    */
  private def assertNoSentinelCollision(df: org.apache.spark.sql.DataFrame): Unit = {
    val hit = df.filter(
      Seq("lang", "source", "text").map(c => df.col(c) === "\\N").reduce(_ || _)).count()
    require(hit == 0,
      s"q163/q164 round-trip gate: $hit rows contain the literal string \\N, " +
        "which collides with the CSV nullValue sentinel; change the sentinel for this corpus")
  }

  /** Latest event time in epoch µs, or None for an empty events table:
    * the sentinel-flush gates (q74, q123) then have nothing to flush.
    */
  private def maxEventUs(raw: DataFrame): Option[Long] = {
    val r = Tables.normalizeEventTs(raw).agg(max(col("ts_us"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  private val rowFoldOracle: String = """
    SELECT doc_id,
           md5(coalesce(CAST(doc_id AS VARCHAR), chr(1)) || '#'
               || coalesce(lang, chr(1)) || '#'
               || coalesce(source, chr(1)) || '#'
               || coalesce(CAST(n_chars AS VARCHAR), chr(1)) || '#'
               || coalesce(text, chr(1))) AS row_md5
    FROM documents
    ORDER BY doc_id"""

  def queries: Seq[(String, NamedQuery)] = Seq(

    // ---------------------------------------------------------------- q59
    // BPE-ish regex tokenization (north-star "token counting:
    // whitespace + a BPE-ish regex"): letter runs, digit runs, and
    // single non-alnum marks as separate tokens — the pre-tokenizer
    // split GPT-style BPE vocabularies assume. Pure codegen'd column
    // expressions; identical RE semantics in Java regex and RE2.
    "q59_bpe_tokens" -> NamedQuery(
      fn = (s, d) => {
        val low = lower(col("text"))
        Tables.documents(s, d)
          .withColumn("n_word", size(regexp_extract_all(low, lit("[a-z]+"), lit(0))).cast("long"))
          .withColumn("n_num", size(regexp_extract_all(low, lit("[0-9]+"), lit(0))).cast("long"))
          .withColumn("n_mark", size(regexp_extract_all(low, lit("[^a-z0-9\\s]"), lit(0))).cast("long"))
          .withColumn("n_bpe_tokens", col("n_word") + col("n_num") + col("n_mark"))
          .select("doc_id", "n_word", "n_num", "n_mark", "n_bpe_tokens")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_word,
               CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT) AS n_num,
               CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS BIGINT) AS n_mark,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                  + len(regexp_extract_all(lower(text), '[0-9]+'))
                  + len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        FROM documents
        ORDER BY doc_id"""),
      doc = "BPE-ish regex pre-tokenization counts (north-star)"),

    // ---------------------------------------------------------------- q60
    // The streaming surface through the correctness gate: a watermarked
    // hourly tumbling-window aggregation (per event type: count and
    // exact cents sum — its own shape, not EventWindows.tumblingCounts'
    // 1-minute double-sum windows) runs as a real Structured Streaming
    // query (file source over the events parquet, AvailableNow semantics
    // via processAllAvailable, Complete mode to a memory sink) and must
    // hash-match the batch DuckDB oracle — incremental execution,
    // identical answer. Complete mode: the final data batch already
    // holds the full answer.
    "q60_stream_hourly" -> NamedQuery(
      fn = (s, d) =>
        GateRun.replay(s, d, "q60_stream_hourly", OutputMode.Complete) { stream =>
          stream
            .withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(
              count(lit(1)).as("n_events"),
              exactSum(col("value")).as("sum_value"))
            .select(unix_micros(col("window.start")).as("window_start_us"),
              col("event_type"), col("n_events"), col("sum_value"))
        }.orderBy("window_start_us", "event_type"),
      oracle = Some("""
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "Structured Streaming tumbling windows vs the batch oracle (§2.J)"),

    // ---------------------------------------------------------------- q61
    // Multimodal decode path through the gate: synthetic binary media
    // rows -> Dataset[MediaRow] -> mapPartitions feature extraction
    // (the Scala analog of mapInPandas batches; decode is the
    // deterministic stub) -> per-kind stats. The stub folds payload
    // bytes mod 8, so DuckDB reproduces feature[0] exactly from the
    // (all-ASCII) text bytes — the full iterator path is oracle-checked.
    "q61_media_features" -> NamedQuery(
      fn = (s, d) => {
        import graft.multimodal.MultimodalOps
        implicit val sp = s
        import s.implicits._
        val media = MultimodalOps.syntheticMedia(Tables.documents(s, d))
          .as[MultimodalOps.MediaRow]
        MultimodalOps.extractFeatures(media).toDF()
          .withColumn("f0", round(element_at(col("features"), 1), 6).cast(DecimalType(18, 6)))
          .groupBy("kind")
          .agg(
            count(lit(1)).as("n_media"),
            sum(col("n_bytes")).as("total_bytes"),
            sum(col("f0")).cast("double").as("sum_f0"))
          .orderBy("kind")
      },
      oracle = Some("""
        WITH m AS (
          SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                      WHEN doc_id % 3 = 1 THEN 'audio'
                      ELSE 'video' END AS kind,
                 CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                 round(list_sum(list_transform(range(1, length(text) + 1, 8),
                                               p -> ord(substr(text, p, 1)) / 255.0)), 6) AS f0
          FROM documents)
        SELECT kind, COUNT(*) AS n_media, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               CAST(SUM(CAST(f0 AS DECIMAL(18,6))) AS DOUBLE) AS sum_f0
        FROM m
        GROUP BY kind
        ORDER BY kind"""),
      doc = "multimodal mapPartitions decode plumbing, stub-oracled (north-star)"),

    // --------------------------------------------------------------- q162
    // REAL binary ingest through Spark's core `binaryFile` source — the
    // actual multimodal ingest boundary (image/audio shards as opaque
    // files on storage), where q61's syntheticMedia is the post-ingest
    // stand-in. Staging: one .bin per sampled doc, written
    // executor-side via foreachPartition (local FS here; shared/object
    // storage on a cluster — no driver-side loop, no collect). Read:
    // binaryFile gives (path, length, content); the gate checks
    // byte-exact round-trip via per-file length + md5(content) against
    // DuckDB hashing the same utf8 bytes. The %10 sample bounds the
    // file count (50 at sf0.01) — the small-files regime itself is the
    // point: at 100 TB you ingest shards this way, then IMMEDIATELY
    // compact to parquet/struct rows (q61's shape) because a
    // per-object file listing is the scan bottleneck, not the bytes.
    "q162_binary_ingest" -> NamedQuery(
      fn = (s, d) => {
        // capture the dir as a String: Path isn't Serializable and the
        // lambda ships to executors. freshDir: the file set must mirror
        // THIS dataset — a stale doc_*.bin from an earlier run against a
        // different (or larger) dataset would ride the glob into the gate.
        val dir = TempPaths.freshDir(s, "q162_media").getAbsolutePath
        Tables.documents(s, d).select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 10 === 0)
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(dir, s"doc_${r.getLong(0)}.bin"),
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          }
        s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
          .load(dir)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
            col("length").as("n_bytes"),
            md5(col("content")).as("content_md5"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5
        FROM documents
        WHERE doc_id % 10 = 0
        ORDER BY doc_id"""),
      doc = "binary-file ingest round-trip (core binaryFile source), byte-exact vs DuckDB (A-family + multimodal boundary)"),

    // --------------------------------------------------------------- q163
    // A1/A2 CSV through the gate (spec-only until round 8): documents —
    // the table with the HOSTILE content for a delimited format
    // (commas, quotes, newlines in text) — written as quoted/escaped
    // CSV and read back through TextSources.csv with an explicit
    // schema (+ multiLine for embedded newlines), then every column of
    // every row folded into a per-row md5 the driver hash-compares
    // against DuckDB computing the same fold over the PARQUET truth.
    // Any character the CSV writer/reader mangles — a lost quote, a
    // split row, a re-typed number — lands in the row hash. At 100 TB:
    // multiLine forces whole-file parse tasks (no intra-file split),
    // which is why parquet is the engine's interchange and CSV the
    // ingest boundary; the explicit schema skips the inference pass.
    "q163_csv_roundtrip" -> NamedQuery(
      fn = (s, d) => {
        val dir = TempPaths.dir(s, "q163_csv").getAbsolutePath
        val truth = Tables.documents(s, d)
        assertNoSentinelCollision(truth)
        // nullValue sentinel on BOTH sides: Spark's CSV reader otherwise
        // reads an empty field back as null, and concat_ws would then
        // silently skip it while the oracle's || propagates NULL — the
        // round-trip contract must not depend on the corpus having no
        // null/empty values.
        truth.write.mode("overwrite")
          .option("header", "true").option("escape", "\"")
          .option("nullValue", "\\N").csv(dir)
        val back = graft.sources.TextSources.csv(s, truth.schema,
          Map("multiLine" -> "true", "escape" -> "\"",
              "nullValue" -> "\\N", "emptyValue" -> ""), dir)
        back.select(col("doc_id"),
            md5(concat_ws("#", rowFoldCols(back): _*)).as("row_md5"))
          .orderBy("doc_id")
      },
      oracle = Some(rowFoldOracle),
      doc = "A1/A2 CSV write->read round-trip (quoted/escaped/multiLine) hash-matched per row vs the parquet truth"),

    // --------------------------------------------------------------- q164
    // A5 TSV through the gate — q163's shape at sep='\t' via
    // TextSources.tsv (the reference's remote-TSV fixture path, Field
    // Control.R:108-118). Embedded tabs in text ride the same RFC
    // quoting; the per-row fold hash-matches the parquet truth, so the
    // separator change is proven lossless, not assumed.
    "q164_tsv_roundtrip" -> NamedQuery(
      fn = (s, d) => {
        val dir = TempPaths.dir(s, "q164_tsv").getAbsolutePath
        val truth = Tables.documents(s, d)
        assertNoSentinelCollision(truth)
        truth.write.mode("overwrite")
          .option("header", "true").option("escape", "\"").option("sep", "\t")
          .option("nullValue", "\\N").csv(dir)
        val back = graft.sources.TextSources.tsv(s, truth.schema,
          Map("multiLine" -> "true", "escape" -> "\"",
              "nullValue" -> "\\N", "emptyValue" -> ""), dir)
        back.select(col("doc_id"),
            md5(concat_ws("#", rowFoldCols(back): _*)).as("row_md5"))
          .orderBy("doc_id")
      },
      oracle = Some(rowFoldOracle),
      doc = "A5 TSV write->read round-trip hash-matched per row vs the parquet truth"),

    // ---------------------------------------------------------------- q62
    // Cube + grouping_id over (priority, status) — closes the §2.D
    // "grouping sets / cube" free-extension row (rollup is q20).
    // Spark's grouping_id bit order (first cube column = MSB) matches
    // DuckDB/Postgres GROUPING().
    "q62_cube_orders" -> NamedQuery(
      fn = (s, d) => {
        Tables.orders(s, d)
          .select("o_orderpriority", "o_orderstatus", "o_totalprice")
          .createOrReplaceTempView("q62_base")
        s.sql("""
          SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
                 COALESCE(o_orderstatus, 'ALL') AS status,
                 CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          FROM q62_base
          GROUP BY CUBE(o_orderpriority, o_orderstatus)
          ORDER BY priority, status""")
      },
      oracle = Some("""
        SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(o_orderstatus, 'ALL') AS status,
               CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY CUBE(o_orderpriority, o_orderstatus)
        ORDER BY priority, status"""),
      doc = "cube + grouping_id subtotal lattice (§2.D free extension)"),

    // ---------------------------------------------------------------- q63
    // Sequence packing (concat-and-chunk): lay documents end-to-end in
    // doc_id order WITHIN each (lang, source) shard and cut fixed
    // 256-token training chunks. Each doc's placement is an exclusive
    // prefix sum — one keyed window per shard (never a global total
    // order: shards pack independently and in parallel, which is what
    // makes this runnable over 100 TB). All-integer → exact oracle.
    "q63_sequence_packing" -> NamedQuery(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 256L
        val w = Window.partitionBy("lang", "source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, d)
          .withColumn("n_tokens", graft.ops.TextOps.tokenCount(col("text")))
          .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("first_chunk", expr(s"offset div $budget"))
          .withColumn("last_chunk", expr(s"(offset + n_tokens - 1) div $budget"))
          .withColumn("n_chunks_spanned", col("last_chunk") - col("first_chunk") + 1L)
          .select("doc_id", "lang", "source", "n_tokens", "offset",
            "first_chunk", "n_chunks_spanned")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id, lang, source, n_tokens, "offset",
               CAST("offset" // 256 AS BIGINT) AS first_chunk,
               CAST(("offset" + n_tokens - 1) // 256 - "offset" // 256 + 1 AS BIGINT) AS n_chunks_spanned
        FROM (
          SELECT doc_id, lang, source,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                 CAST(COALESCE(SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
                   OVER (PARTITION BY lang, source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
          FROM documents)
        ORDER BY doc_id"""),
      doc = "sequence packing: sharded concat-and-chunk token budgeting (north-star)"),

    // ---------------------------------------------------------------- q64
    // TF-IDF: the highest-scoring term per document. tf = in-doc count,
    // idf = ln(N/df) (rounded at 6 — transcendental); both shuffles are
    // keyed (token / doc_id), df join is a broadcast-size aggregate.
    "q64_tfidf_top_term" -> NamedQuery(
      fn = (s, d) => {
        val docs = Tables.documents(s, d)
        val nDocs = docs.count() // bounded scalar (driver literal, like F5)
        val tf = docs
          .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val scored = tf.join(broadcast(df), Seq("tok"))
          .withColumn("score", round(col("tf") * round(log(lit(nDocs.toDouble) / col("df")), 6), 6))
        graft.ops.RelationalOps.topKPerGroup(
          Seq("doc_id"), Seq(col("score").desc, col("tok").asc), 1)(scored)
          .select("doc_id", "tok", "tf", "df", "score")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH tf AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        tfc AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
        dfc AS (SELECT tok, COUNT(*) AS df FROM tfc GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, tok, tf, df,
                 round(tf * round(ln(n_docs / CAST(df AS DOUBLE)), 6), 6) AS score
          FROM tfc JOIN dfc USING (tok) CROSS JOIN n)
        SELECT doc_id, tok, tf, df, score
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, tok ASC) AS rn FROM scored)
        WHERE rn = 1
        ORDER BY doc_id"""),
      doc = "tf-idf top term per document (north-star text analysis)"),

    // ---------------------------------------------------------------- q65
    // Semantic dedup (SemDeDup shape): coarse-assign every embedding to
    // its nearest centroid (broadcast, q40's quantizer), then ONLY
    // within a cell mark vectors whose cosine to a lower-id cell member
    // is ≥ 0.95 as drops. The candidate scan is cell-bucketed — the
    // 100 TB path — never a global all-pairs. Centroid count is
    // DATA-SCALED (nlist = max(8, ⌈√N⌉), the round-9 IVF sizing rule):
    // the round-13 honest re-measure caught this query still on a
    // CONSTANT 8 cells — in-cell pairs grow as N²/8, measured 553.7 s
    // at sf10 (decade-2 exp 1.97, quadratic) where SCALING.md's round-2
    // note had already promised k ≈ √n. With √N cells the in-cell
    // candidate volume is ~N^1.5, same as q40/q156.
    "q65_semantic_dedup" -> NamedQuery(
      fn = (s, d) => {
        val v = Tables.embeddings(s, d)
          .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
        // the ONE sizing rule, shared with the whole IVF family (round-13
        // ADVICE: the inline copy invited drift from the oracles'
        // greatest(8, ceil(sqrt(count))))
        val nlist = SimilarityQueries.ivfNlist(v)
        val cents = SimilarityQueries.ivfCentroids(v, nlist)
        // narrow-product assignment (SimilarityQueries.nearestCells):
        // the full-width window sort spilled ~160 GB at sf10 and killed
        // the run — see that helper's round-13 note. Checkpointed
        // (q176's pattern): both sides of the in-cell join and the
        // final cell aggregate consume it, and the N×√N centroid
        // scoring must not re-run per branch
        val assigned = SimilarityQueries.nearestCells(v, cents).localCheckpoint(false)
        val a = assigned.select(col("cell"), col("vec_id").as("v1"), col("embedding").as("emb1"), col("nrm").as("n1"))
        val b = assigned.select(col("cell"), col("vec_id").as("v2"), col("embedding").as("emb2"), col("nrm").as("n2"))
        val drops = a.join(b, Seq("cell")).filter(col("v1") < col("v2"))
          .withColumn("cos", round(expr("vec_dot(emb1, emb2)") / (col("n1") * col("n2")), 6))
          .filter(col("cos") >= 0.95)
          .select(col("v2").as("vec_id")).distinct()
        assigned.join(drops.withColumn("dropped", lit(1L)), Seq("vec_id"), "left")
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"), sum(coalesce(col("dropped"), lit(0L))).as("n_dropped"))
          .orderBy("cell")
      },
      oracle = Some("WITH" + SimilarityQueries.ivfCellsSql + """,
        drops AS (
          SELECT DISTINCT b.vec_id
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) >= 0.95),
        flagged AS (
          SELECT a.cell, a.vec_id,
                 CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS dropped
          FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id)
        SELECT cell, COUNT(*) AS n_vecs, CAST(SUM(dropped) AS BIGINT) AS n_dropped
        FROM flagged
        GROUP BY cell
        ORDER BY cell"""),
      doc = "semantic dedup: centroid cells then in-cell cosine keeper (north-star scale path)"),

    // ---------------------------------------------------------------- q74
    // STATEFUL streaming through the correctness gate: the
    // flatMapGroupsWithState sessionizer (EventWindows.sessionize, the
    // §2.J custom-state surface) runs as a real Structured Streaming
    // query over the events file and must hash-match the batch
    // lag+running-sum oracle. End-of-stream flush: every user gets one
    // far-future sentinel EVENT, so the sessionizer's own gap logic
    // closes the last real session inside the data batch — emission
    // never waits on an event-time timeout plus no-data micro-batch
    // (that timeout path still exists for genuinely unbounded runs;
    // here processAllAvailable alone is deterministic). Sentinel
    // "sessions" start at the sentinel timestamp and are filtered out.
    // An empty events table has no session to close: no flush.
    "q74_stream_sessions" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        import s.implicits._
        val raw = Tables.load(s, d, "events")
        val sentinelUs = maxEventUs(raw).map(_ + 2L * 3600 * 1000000L)
        val flushes = sentinelUs.toSeq.map(us => raw.select(col("user_id")).distinct()
          .select(lit(-1L).as("event_id"),
            Tables.tsLiteral(us, raw.schema("ts").dataType).as("ts"), col("user_id"),
            lit("sentinel").as("event_type"), lit(0.0).as("value"), lit("{}").as("props")))
        GateRun.replay(s, d, "q74_stream_sessions", OutputMode.Append, flushes) { stream =>
          EventWindows.sessionize(stream
            .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
            .as[EventWindows.Event]).toDF()
        }.filter(col("session_start_us") < sentinelUs.getOrElse(Long.MaxValue))
          .orderBy("user_id", "session_start_us")
      },
      oracle = Some("WITH" + EventQueries.sessionIdsSql + """
        SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events,
               MAX(ts_us) - MIN(ts_us) AS span_us
        FROM sid
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start_us"""),
      doc = "stateful streaming sessionization vs the batch oracle (§2.J flatMapGroupsWithState)"),

    // ---------------------------------------------------------------- q75
    // Video frame sampling through the gate: every-4th-frame catalog
    // from the multimodal surface (MultimodalOps.sampleFrames — a
    // sequence+explode generator, not a driver loop), each sampled
    // frame fingerprinted from its payload window via the deterministic
    // stub (substring of the synthetic payload; a real codec would
    // decode the frame here — plan shape unchanged). The fan-out is
    // map-only; the payload attach is one keyed join.
    "q75_frame_sample" -> NamedQuery(
      fn = (s, d) => {
        import graft.multimodal.MultimodalOps
        val media = MultimodalOps.syntheticMedia(Tables.documents(s, d))
        val frames = MultimodalOps.sampleFrames(media, 4)
        frames
          .join(Tables.documents(s, d).select(col("doc_id").as("media_id"), col("text")),
            Seq("media_id"))
          .withColumn("frame_idx", col("frame_idx").cast("long"))
          .withColumn("frame_hash",
            md5(substring(col("text"), (col("frame_idx") + 1).cast("int"), lit(32))))
          .select("media_id", "frame_idx", "frame_hash")
          .orderBy("media_id", "frame_idx")
      },
      oracle = Some("""
        WITH v AS (
          SELECT doc_id AS media_id, text,
                 CAST(n_chars % 120 + 1 AS BIGINT) AS n_frames
          FROM documents WHERE doc_id % 3 = 2),
        f AS (
          SELECT media_id, text, unnest(range(0, n_frames, 4)) AS frame_idx
          FROM v)
        SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
               md5(substr(text, CAST(frame_idx + 1 AS INTEGER), 32)) AS frame_hash
        FROM f
        ORDER BY media_id, frame_idx"""),
      doc = "multimodal frame sampling: every-4th-frame catalog + stub fingerprints (north-star)"),

    // ---------------------------------------------------------------- q78
    // STREAM-STREAM interval join through the correctness gate: the
    // EventWindows.clickToPurchase attribution (both sides watermarked,
    // event-time range condition bounding join state) runs as a real
    // Structured Streaming self-join over the events file and must
    // hash-match the batch DuckDB interval-join oracle. Inner-join rows
    // emit as matches arrive — no sentinel needed (unlike q74's
    // stateful flush); the watermark's role here is state CLEANUP, which
    // is what keeps the buffered sides finite on an unbounded stream.
    "q78_stream_attribution" -> NamedQuery(
      fn = (s, d) =>
        GateRun.replay(s, d, "q78_stream_attribution", OutputMode.Append)(
          EventWindows.clickToPurchase)
          .orderBy("user_id", "click_id", "purchase_id"),
      oracle = Some(s"""
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               p.value AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_us(p.ts) >= epoch_us(c.ts)
         AND epoch_us(p.ts) <= epoch_us(c.ts) + ${30L * 60 * 1000000L}
        ORDER BY c.user_id, click_id, purchase_id"""),
      doc = "stream-stream interval join vs the batch oracle (§2.J hardest shape)"),

    // ---------------------------------------------------------------- q80
    // SLIDING windows through the gate: EventWindows.slidingCounts
    // (5-minute windows every minute — each event lands in 5
    // overlapping windows) as a real Structured Streaming query,
    // hash-matched to a batch oracle that materializes the same 5
    // window starts per event with unnest(range(0,5)). Complete mode
    // like q60: window finalization never depends on a trailing
    // no-data batch advancing the watermark.
    "q80_stream_sliding" -> NamedQuery(
      fn = (s, d) =>
        GateRun.replay(s, d, "q80_stream_sliding", OutputMode.Complete) { stream =>
          EventWindows.slidingCounts(stream)
            .select(unix_micros(col("window_start")).as("window_start_us"),
              col("user_id"), col("n_events"))
        }.orderBy("window_start_us", "user_id"),
      oracle = Some("""
        WITH slid AS (
          SELECT user_id,
                 ((epoch_us(ts) // 60000000) - unnest(range(0, 5))) * 60000000 AS window_start_us
          FROM events)
        SELECT window_start_us, user_id, COUNT(*) AS n_events
        FROM slid
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "Structured Streaming sliding windows vs the batch oracle (§2.J)"),

    // ---------------------------------------------------------------- q81
    // STREAMING dedup through the gate: EventWindows.dedupStream
    // (watermarked dropDuplicates — the streaming form of exact dedup
    // q33; the watermark bounds dedup state to 10 minutes of keys) over
    // the events file, projected to the (fp, ts_us) dedup keys so the
    // output is deterministic regardless of which physical row
    // dropDuplicates keeps. Fingerprint uses integer/string columns
    // only — no float-to-string formatting to disagree on cross-engine.
    "q81_stream_dedup" -> NamedQuery(
      fn = (s, d) =>
        GateRun.replay(s, d, "q81_stream_dedup", OutputMode.Append) { stream =>
          EventWindows.dedupStream(stream, keyCols = Seq("user_id", "event_type"))
            .select(col("fp"), unix_micros(col("ts")).as("ts_us"))
        }.orderBy("fp", "ts_us"),
      oracle = Some("""
        SELECT DISTINCT md5(CAST(user_id AS VARCHAR) || '#' || event_type) AS fp,
               epoch_us(ts) AS ts_us
        FROM events
        ORDER BY fp, ts_us"""),
      doc = "streaming exact dedup (watermark-bounded state) vs the batch oracle (§2.J)"),

    // --------------------------------------------------------------- q109
    // Stream-STATIC join through the gate — the enrichment shape every
    // production stream runs (events joined to a dimension table on
    // arrival). The static side is broadcast, so each micro-batch pays a
    // map-side hash probe and NO stream-side shuffle for the join; state
    // is only the Complete-mode aggregate. Closes the streaming surface:
    // tumbling (q60), sessions (q74), stream-stream (q78), sliding
    // (q80), dedup (q81), stream-static (here), outer interval join
    // (q123) — all seven hash-matched to
    // batch oracles.
    "q109_stream_static_join" -> NamedQuery(
      fn = (s, d) => {
        val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
        GateRun.replay(s, d, "q109_stream_static_join", OutputMode.Complete) { stream =>
          stream.select(col("user_id"), col("event_type"), col("value"))
            .join(broadcast(cust), col("user_id") === col("c_custkey"))
            .groupBy("c_mktsegment", "event_type")
            .agg(
              count(lit(1)).as("n_events"),
              exactSum(col("value")).as("sum_value"))
        }.orderBy("c_mktsegment", "event_type")
      },
      oracle = Some("""
        SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "Structured Streaming stream-static broadcast enrichment vs the batch oracle (§2.J)"),

    // --------------------------------------------------------------- q123
    // Stream-stream LEFT OUTER interval join through the gate — the
    // seventh streaming shape, and the one where the watermark is the
    // EMISSION trigger, not just state cleanup: an unmatched click may
    // only be released with NULL purchase columns after event time
    // passes click_ts + 30min + the 10-min watermark delay (earlier it
    // might still match). End-of-stream therefore needs a flush, and
    // the flush must advance BOTH watermark operators: the global
    // watermark is the MIN across every withWatermark node, so a
    // click-only sentinel leaves the purchases-side watermark at the
    // real data's max and the last clicks never release (measured:
    // exactly the final unmatched click went missing). Each sentinel
    // batch therefore carries one far-future click (user -1) AND one
    // far-future purchase (user -2, outside every real click's window):
    // sentinel pair #1 rides with the data batch and pushes the
    // post-batch watermark past every real join window; pair #2
    // (written AFTER the first processAllAvailable) forces one more
    // REAL batch that runs under that watermark and emits every
    // remaining unmatched click — deterministic, no reliance on a
    // no-data micro-batch racing processAllAvailable. Sentinels are
    // filtered from the result. An empty events table has no click to
    // release: no flush.
    "q123_stream_outer_join" -> NamedQuery(
      fn = (s, d) => {
        val raw = Tables.load(s, d, "events")
        def sentinel(us: Long): DataFrame =
          s.range(1).select(explode(array(
            struct(lit(-1L).as("event_id"),
              Tables.tsLiteral(us, raw.schema("ts").dataType).as("ts"),
              lit(-1L).as("user_id"), lit("click").as("event_type"),
              lit(0.0).as("value"), lit("{}").as("props")),
            struct(lit(-2L).as("event_id"),
              Tables.tsLiteral(us, raw.schema("ts").dataType).as("ts"),
              lit(-2L).as("user_id"), lit("purchase").as("event_type"),
              lit(0.0).as("value"), lit("{}").as("props")))).as("e"))
            .select("e.*")
        val flushes = maxEventUs(raw).toSeq.flatMap(maxUs => Seq(
          sentinel(maxUs + 3L * 3600 * 1000000L), sentinel(maxUs + 4L * 3600 * 1000000L)))
        GateRun.replay(s, d, "q123_stream_outer_join", OutputMode.Append, flushes)(
          EventWindows.clickToPurchaseOuter)
          .filter(col("user_id") >= 0L)
          .orderBy("user_id", "click_id", "purchase_id")
      },
      oracle = Some(s"""
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               p.value AS purchase_value
        FROM events c LEFT JOIN events p
          ON c.user_id = p.user_id
         AND p.event_type = 'purchase'
         AND epoch_us(p.ts) >= epoch_us(c.ts)
         AND epoch_us(p.ts) <= epoch_us(c.ts) + ${30L * 60 * 1000000L}
        WHERE c.event_type = 'click'
        ORDER BY c.user_id, click_id, purchase_id"""),
      doc = "stream-stream LEFT OUTER interval join vs the batch oracle (§2.J seventh shape)"),

    // --------------------------------------------------------------- q153
    // dropDuplicatesWithinWatermark through the gate — the ninth
    // streaming shape and the state-eviction variant q81 can't express:
    // q81's dropDuplicates keys on (fp, ts) and keeps state forever for
    // keys never re-seen; WithinWatermark keys on the BUSINESS key alone
    // and evicts each key's state once the watermark passes its first
    // occurrence — the semantics a 24/7 ingest needs (bounded state for
    // an unbounded key universe). Output is the kept key set projected
    // to the dedup columns only, which is order- and slicing-
    // independent by construction (WHICH payload row is kept is
    // arrival-order-defined; the KEY set is not) — so the batch oracle
    // is exact. State: one row per in-flight key within the watermark
    // horizon.
    "q153_stream_dedup_wm" -> NamedQuery(
      fn = (s, d) =>
        GateRun.replay(s, d, "q153_stream_dedup_wm", OutputMode.Append) { stream =>
          stream
            .select(col("user_id"), col("event_type"), col("ts"))
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark("user_id", "event_type")
            .select("user_id", "event_type")
        }.orderBy("user_id", "event_type"),
      oracle = Some("""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type"""),
      doc = "streaming dedup with watermark state eviction (dropDuplicatesWithinWatermark) vs batch (§2.J ninth shape)"),

    // --------------------------------------------------------------- q173
    // transformWithState through the gate — Spark 4's NEW arbitrary-
    // state API (StatefulProcessor: named state variables, per-state
    // TTL, timers; the successor to q74's flatMapGroupsWithState) in
    // its stateful-map shape: every event emitted enriched with the
    // per-user running count + running max so far
    // (EventWindows.RunningTotalsProcessor). Requires the RocksDB
    // state-store provider (the API refuses HDFS-backed stores) —
    // GateRun.replay picks it from the plan. No watermark/sentinels needed:
    // output is emitted for every input row inside the data batch.
    // Count and max are increment/selection ops — bit-exact vs the
    // batch running-window oracle, no float accumulation.
    "q173_stream_transform_state" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        import s.implicits._
        GateRun.replay(s, d, "q173_stream_transform_state", OutputMode.Append) { stream =>
          EventWindows.runningTotals(stream
            .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
            .as[EventWindows.Event]).toDF()
        }.orderBy("user_id", "run_n")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, value, epoch_us(ts) AS ts_us
          FROM events)
        SELECT user_id, event_id,
               CAST(row_number() OVER w AS BIGINT) AS run_n,
               MAX(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS run_max
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ORDER BY user_id, run_n"""),
      doc = "transformWithState (Spark 4 StatefulProcessor + RocksDB store): per-user running enrichment vs batch windows (§2.J tenth shape)"),

    // --------------------------------------------------------------- q186
    // The ELEVENTH streaming shape: a NATIVE sketch aggregate inside
    // Structured Streaming state — heavy_hitters (expr/SpaceSaving)
    // per tumbling hour window. The TypedImperativeAggregate's binary
    // buffer is what the state store checkpoints between micro-batches,
    // so this gates the full serialize/merge/state-roundtrip path the
    // batch gates never touch. The event-type domain is below the k=8
    // capacity, so the sketch runs in its bit-stable EXACT mode and the
    // windowed result hash-matches plain per-window counts (the q165
    // contract, now under streaming state); the same query with a
    // larger domain degrades per q168's bands, not silently.
    "q186_stream_heavy_hitters" -> NamedQuery(
      fn = (s, d) =>
        GateRun.replay(s, d, "q186_stream_heavy_hitters", OutputMode.Complete) { stream =>
          stream
            .withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(expr("heavy_hitters(event_type, 8)").as("hh"))
            .select(unix_micros(col("window.start")).as("window_start_us"),
              explode(col("hh")).as("e"))
            .select(col("window_start_us"), col("e.item").as("item"),
              col("e.est").as("est"), col("e.err").as("err"))
        }.orderBy(col("window_start_us"), col("est").desc, col("item")),
      oracle = Some("""
        SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
               event_type AS item, COUNT(*) AS est, CAST(0 AS BIGINT) AS err
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, est DESC, item"""),
      doc = "streaming heavy hitters: native space-saving sketch as windowed streaming state, exact mode hash-matched vs batch counts (§2.J eleventh shape)"),

    // --------------------------------------------------------------- q217
    // GLOBAL (unkeyed) sliding window through the streaming gate — the
    // scale-native re-expression of q84's global trailing window.
    // Round 12 measured q84's batch form at 483M bin-joined rows at
    // sf10 (and 48.3B on time-densified data): the batch shape re-joins
    // history on every run, while the streaming shape keeps ~5 open
    // windows of partial aggregates per slide and ships each window
    // once — at 100 TB/day the trailing-window product is maintained
    // incrementally, never recomputed. Unkeyed windows are the one
    // streaming state shape the q60-q186 family doesn't cover (q80
    // slides per user): global state means a single hot grouping key
    // per window — fine HERE because state per window is one partial
    // aggregate, not a row set; the 10-minute watermark bounds open
    // windows, and the memory-sink gate runs Complete like q60/q80
    // (production mode is Append: watermark-expired windows emit and
    // evict). Oracle: each event lands in exactly 600/120 = 5 windows,
    // materialized with unnest(range(0,5)) — the q80 idiom, unkeyed.
    "q217_stream_global_sliding" -> NamedQuery(
      fn = (s, d) =>
        // shared transform (EventWindows.globalSliding) — the spec pins
        // its production Append mode's state eviction on the same plan
        GateRun.replay(s, d, "q217_stream_global_sliding", OutputMode.Complete) { stream =>
          EventWindows.globalSliding(stream)
            .select(unix_micros(col("window_start")).as("window_start_us"),
              col("n_events"), col("sum_value"))
        }.orderBy("window_start_us"),
      oracle = Some("""
        WITH slid AS (
          SELECT ((epoch_us(ts) // 120000000) - unnest(range(0, 5))) * 120000000 AS window_start_us,
                 CAST(value AS DECIMAL(18,2)) AS v
          FROM events)
        SELECT window_start_us, COUNT(*) AS n_events,
               CAST(SUM(v) AS DOUBLE) AS sum_value
        FROM slid
        GROUP BY 1
        ORDER BY 1"""),
      doc = "global unkeyed sliding windows in Structured Streaming vs the batch oracle — the incremental form of q84's trailing window (§2.J twelfth shape)")
  )
}
