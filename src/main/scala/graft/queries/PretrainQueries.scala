package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Pretraining-corpus curation extensions (builder-prompt north-star):
  * eval-set decontamination, repetition quality metrics, deterministic
  * mixture sampling, RAG chunking, and unigram-LM scoring. All pure
  * relational/column programs — every shuffle is keyed on doc_id or
  * token (scales horizontally); the only broadcast sides are bounded
  * (eval-set grams, vocabulary, single-row totals).
  */
object PretrainQueries extends QueryModule {

  /** (doc_id, arr) with arr = whitespace token array. */
  private def tokenArrays(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        split(trim(col("text")), "\\s+").as("arr"))

  /** The lang × source contingency grid of q191/q208, zero cells
    * included: observed `o`, margins `n_l`/`n_s`, total `n` and the
    * expected count `e` = n_l·n_s/n. Both dims are bounded, so the
    * margins cross as broadcasts; the counts are checkpointed because
    * four frames read them.
    */
  private def contingencyGrid(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      .localCheckpoint(false)
    val langs = counts.groupBy("lang").agg(sum(col("o")).as("n_l"))
    val sources = counts.groupBy("source").agg(sum(col("o")).as("n_s"))
    val n = counts.agg(sum(col("o")).as("n"))
    langs.crossJoin(broadcast(sources)).crossJoin(broadcast(n))
      .join(counts, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("e", col("n_l").cast("double") * col("n_s") / col("n"))
  }

  /** The DuckDB side of `contingencyGrid`: CTEs `counts`, `langs`,
    * `sources` and `nn` (no WITH) ...
    */
  private val contingencyMarginsSql = """
        counts AS (
          SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
        langs AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS n_l FROM counts GROUP BY 1),
        sources AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n_s FROM counts GROUP BY 1),
        nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM counts)"""

  /** ... and the FROM of the grid cells l × s × nn with their counts c. */
  private val contingencyCellsSql = """FROM langs l CROSS JOIN sources s CROSS JOIN nn
          LEFT JOIN counts c ON c.lang = l.lang AND c.source = s.source"""

  def queries: Seq[(String, NamedQuery)] = Seq(

    // ---------------------------------------------------------------- q66
    // Decontamination: flag training docs sharing any 5-gram with the
    // eval set (docs with doc_id % 97 == 0 stand in for a benchmark
    // suite). The n-gram generator is an array transform (no joins to
    // build grams); eval grams are benchmark-sized -> broadcast, so the
    // contamination check is a map-side hash join over the training
    // grams — the shape that survives a 100 TB training side.
    "q66_decontam" -> NamedQuery(
      fn = (s, d) => {
        // scoped persist: the gram set (a full tokenize + distinct
        // shuffle) feeds BOTH the broadcast eval-gram build job and the
        // probe side — without it the corpus pipeline runs twice
        // (q93 pattern); CacheScope pairs the unpersist on this path
        val grams = tokenArrays(s, d)
          .filter(size(col("arr")) >= 5)
          .select(col("doc_id"),
            explode(expr(
              "transform(sequence(1, size(arr) - 4), i -> concat_ws(' ', slice(arr, i, 5)))"))
              .as("gram"))
          // distinct keyed by doc_id ALONE (subset partitioning
          // satisfies the (doc_id, gram) aggregate), so the persisted
          // gram set is cached in the partitioning every downstream
          // doc-keyed aggregate needs: the countDistinct's partial
          // (doc_id, gram) distinct AND its final doc_id aggregate both
          // ride the cache's partitioning with zero further exchange of
          // the corpus gram table (guide §2.4; the q93 cache-keying
          // pattern). Per-doc fan-in is bounded by document length.
          .repartition(col("doc_id"))
          .distinct()
        graft.ops.CacheScope.withPersisted(grams) {
          val evalGrams = grams.filter(col("doc_id") % 97 === 0)
            .select("gram").distinct()
          grams.filter(col("doc_id") % 97 =!= 0)
            .join(broadcast(evalGrams), Seq("gram"))
            .groupBy("doc_id")
            .agg(countDistinct(col("gram")).as("n_shared_grams"))
            .orderBy("doc_id")
        }
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(arr) - 3),
                 i -> array_to_string(list_slice(arr, i, i + 4), ' '))) AS gram
          FROM arrs WHERE len(arr) >= 5),
        eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
        SELECT doc_id, COUNT(DISTINCT gram) AS n_shared_grams
        FROM grams JOIN eval_grams USING (gram)
        WHERE doc_id % 97 <> 0
        GROUP BY doc_id
        ORDER BY doc_id"""),
      doc = "eval-set decontamination via 5-gram overlap (north-star)"),

    // ---------------------------------------------------------------- q67
    // Repetition quality metrics (Gopher-style): duplicate-token
    // fraction and most-frequent-bigram fraction per document, plus the
    // keep/drop verdict. The top-bigram count is computed per row with
    // NO shuffle: the bigram multiset's mode count equals the longest
    // run of equal adjacent elements in the SORTED bigram array, so one
    // array_sort + single-pass fold inside whole-stage codegen replaces
    // the exploded (doc_id, bigram) double aggregation — at 100 TB the
    // whole query is map-only except the final ORDER BY.
    "q67_repetition" -> NamedQuery(
      fn = (s, d) => {
        val topBigramRun = expr("""
          aggregate(
            array_sort(transform(sequence(1, size(arr) - 1),
              i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))),
            named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
            (acc, x) -> named_struct(
              'prev', x,
              'run',  CASE WHEN x <=> acc.prev THEN acc.run + 1L ELSE 1L END,
              'best', greatest(acc.best,
                        CASE WHEN x <=> acc.prev THEN acc.run + 1L ELSE 1L END)),
            acc -> acc.best)""")
        tokenArrays(s, d)
          .withColumn("n_toks", size(col("arr")).cast("long"))
          .withColumn("n_distinct", size(array_distinct(col("arr"))).cast("long"))
          .filter(col("n_toks") >= 2)
          .withColumn("top_bigram_n", topBigramRun)
          // both fracs as exact rationals in integer micro units (PARITY
          // rule 4 fix 2 — round(double, 6) splits engines on decimal
          // micro-midpoints; q70 hit one at sf1); the keep gate compares
          // the micro integers, which is the same predicate exactly
          .withColumn("dup_micro",
            expr("(2 * 1000000 * (n_toks - n_distinct) + n_toks) div (2 * n_toks)"))
          .withColumn("bg_micro",
            expr("(2 * 1000000 * top_bigram_n + (n_toks - 1)) div (2 * (n_toks - 1))"))
          .withColumn("dup_token_frac", col("dup_micro").cast("double") / lit(1e6))
          .withColumn("top_bigram_frac", col("bg_micro").cast("double") / lit(1e6))
          .withColumn("keep",
            (col("dup_micro") <= 800000L && col("bg_micro") <= 200000L).cast("long"))
          .select("doc_id", "n_toks", "dup_token_frac", "top_bigram_frac", "keep")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        base AS (
          SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_toks,
                 CAST(len(list_distinct(arr)) AS BIGINT) AS n_distinct, arr
          FROM arrs WHERE len(arr) >= 2),
        bg AS (
          SELECT doc_id, n_toks, n_distinct,
                 unnest(list_transform(range(1, len(arr)),
                   i -> array_to_string(list_slice(arr, i, i + 1), ' '))) AS bg
          FROM base),
        cnt AS (
          SELECT doc_id, n_toks, n_distinct, bg, COUNT(*) AS c
          FROM bg GROUP BY 1, 2, 3, 4),
        top AS (
          SELECT doc_id, n_toks, n_distinct, MAX(c) AS top_bigram_n
          FROM cnt GROUP BY 1, 2, 3),
        m AS (
          SELECT doc_id, n_toks,
                 (2 * 1000000 * (n_toks - n_distinct) + n_toks) // (2 * n_toks) AS dup_micro,
                 (2 * 1000000 * top_bigram_n + (n_toks - 1)) // (2 * (n_toks - 1)) AS bg_micro
          FROM top)
        SELECT doc_id, n_toks,
               CAST(dup_micro AS DOUBLE) / 1e6 AS dup_token_frac,
               CAST(bg_micro AS DOUBLE) / 1e6 AS top_bigram_frac,
               CAST(CASE WHEN dup_micro <= 800000 AND bg_micro <= 200000
                         THEN 1 ELSE 0 END AS BIGINT) AS keep
        FROM m
        ORDER BY doc_id"""),
      doc = "Gopher-style repetition metrics + keep/drop verdict (north-star)"),

    // ---------------------------------------------------------------- q68
    // Deterministic mixture sampling: rebalance the language mix with
    // per-lang keep rates applied via an md5 bucket of doc_id — the
    // reproducible, cluster-order-independent form of "sample 30% of
    // English" (no rand(), no global coordination; identical decision
    // for a doc on any executor of any cluster size).
    "q68_mixture_sample" -> NamedQuery(
      fn = (s, d) => {
        // First 3 md5 hex digits as a uniform 0..4095 value, % 1000 —
        // conv() parses the hex; DuckDB (no conv) mirrors it with
        // per-digit ascii arithmetic. Keep rates then track the nominal
        // 300/600/800 per-mille within the 4096%1000 remainder skew.
        val h = md5(col("doc_id").cast("string"))
        val bucket = conv(substring(h, 1, 3), 16, 10).cast("long") % 1000
        val rate = when(col("lang") === "en", 300L)
          .when(col("lang") === "de", 600L)
          .otherwise(800L)
        Tables.documents(s, d)
          .withColumn("bucket", bucket.cast("long"))
          .withColumn("rate", rate)
          .filter(col("bucket") < col("rate"))
          .select("doc_id", "lang", "bucket", "rate")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH hx AS (
          SELECT doc_id, lang,
                 ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS a0,
                 ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) AS a1,
                 ascii(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) AS a2
          FROM documents),
        b AS (
          SELECT doc_id, lang,
                 CAST(((a0 - CASE WHEN a0 >= 97 THEN 87 ELSE 48 END) * 256
                     + (a1 - CASE WHEN a1 >= 97 THEN 87 ELSE 48 END) * 16
                     + (a2 - CASE WHEN a2 >= 97 THEN 87 ELSE 48 END)) % 1000 AS BIGINT) AS bucket,
                 CAST(CASE lang WHEN 'en' THEN 300 WHEN 'de' THEN 600 ELSE 800 END AS BIGINT) AS rate
          FROM hx)
        SELECT doc_id, lang, bucket, rate
        FROM b
        WHERE bucket < rate
        ORDER BY doc_id"""),
      doc = "deterministic per-lang mixture downsampling via md5 buckets (north-star)"),

    // ---------------------------------------------------------------- q69
    // RAG chunking: overlapping token windows (size 32, stride 24) with
    // a content hash per chunk. Pure array arithmetic inside one
    // codegen span — the chunker never shuffles; output is the chunk
    // catalog an embedding stage would consume.
    "q69_rag_chunks" -> NamedQuery(
      fn = (s, d) => {
        tokenArrays(s, d)
          .select(col("doc_id"), col("arr"),
            explode(expr("sequence(1, size(arr), 24)")).as("start"))
          .withColumn("chunk_idx", ((col("start") - 1L) / 24L).cast("long"))
          .withColumn("chunk", expr("slice(arr, start, 32)"))
          .withColumn("n_chunk_toks", size(col("chunk")).cast("long"))
          .withColumn("chunk_hash", md5(concat_ws(" ", col("chunk"))))
          .select("doc_id", "chunk_idx", "n_chunk_toks", "chunk_hash")
          .orderBy("doc_id", "chunk_idx")
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        st AS (
          SELECT doc_id, arr, unnest(range(1, len(arr) + 1, 24)) AS s
          FROM arrs)
        SELECT doc_id,
               CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
               CAST(len(list_slice(arr, s, least(s + 31, len(arr)))) AS BIGINT) AS n_chunk_toks,
               md5(array_to_string(list_slice(arr, s, least(s + 31, len(arr))), ' ')) AS chunk_hash
        FROM st
        ORDER BY doc_id, chunk_idx"""),
      doc = "overlapping token-window RAG chunk catalog (north-star)"),

    // ---------------------------------------------------------------- q86
    // Cross-document boilerplate removal (the C4/CCNet line-dedup op,
    // distinct from doc-level dedup): non-overlapping 10-token segments
    // hashed per doc, document frequency counted across the corpus, and
    // any segment appearing in ≥2 docs dropped from every doc's kept
    // token budget. Two keyed shuffles (segment hash, then doc_id); the
    // df side is corpus-vocabulary-sized, so at corpus scale it stays
    // a keyed JOIN (AQE may legitimately broadcast the small aggregated
    // freq side at TEST scale — the plan adapts to the actual size,
    // which is the point; a production run would pre-filter df≥k into a
    // semi-join side the same way).
    "q86_boilerplate_segments" -> NamedQuery(
      fn = (s, d) => {
        // scoped persist: segs feeds the df aggregate AND the final join —
        // without it every segment is re-tokenized and re-md5'd twice
        val segs = tokenArrays(s, d)
          .select(col("doc_id"), col("arr"),
            explode(expr("sequence(1, size(arr), 10)")).as("start"))
          .select(col("doc_id"),
            md5(concat_ws(" ", expr("slice(arr, start, 10)"))).as("seg_hash"),
            size(expr("slice(arr, start, 10)")).cast("long").as("seg_toks"))
        graft.ops.CacheScope.withPersisted(segs) {
          val freq = segs.groupBy("seg_hash")
            .agg(countDistinct(col("doc_id")).as("df"))
          segs.join(freq, Seq("seg_hash"))
            .groupBy("doc_id")
            .agg(
              count(lit(1)).as("n_segs"),
              sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_boilerplate"),
              sum(when(col("df") >= 2, lit(0L)).otherwise(col("seg_toks"))).as("kept_tokens"))
            .orderBy("doc_id")
        }
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        st AS (
          SELECT doc_id, arr, unnest(range(1, len(arr) + 1, 10)) AS s
          FROM arrs),
        segs AS (
          SELECT doc_id,
                 md5(array_to_string(list_slice(arr, s, least(s + 9, len(arr))), ' ')) AS seg_hash,
                 CAST(len(list_slice(arr, s, least(s + 9, len(arr)))) AS BIGINT) AS seg_toks
          FROM st),
        freq AS (
          SELECT seg_hash, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
        SELECT doc_id, COUNT(*) AS n_segs,
               CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
               CAST(SUM(CASE WHEN df >= 2 THEN 0 ELSE seg_toks END) AS BIGINT) AS kept_tokens
        FROM segs JOIN freq USING (seg_hash)
        GROUP BY doc_id
        ORDER BY doc_id"""),
      doc = "cross-doc boilerplate segment removal, C4/CCNet-style (north-star)"),

    // ---------------------------------------------------------------- q70
    // Unigram-LM document scoring (the cheap stand-in for a
    // model-based quality filter): corpus unigram probabilities, then
    // each doc's mean token log-probability. The vocabulary aggregate
    // is O(vocab) -> broadcast; per-token logs are rounded then summed
    // as DECIMAL so the mean is exact and order-independent at any
    // parallelism. The MEAN is rounded as a RATIONAL in integer math
    // (PARITY rule 4 fix 2, the q180 final form): at sf1 one doc's
    // exact sum/n landed on a true decimal midpoint (-125523827/22
    // micro = -5705628.5 exactly) and round(double,6) split the
    // engines — Spark's string HALF_UP saw the nearest double just
    // below the midpoint, DuckDB's binary x*1e6 landed on it.
    "q70_unigram_logprob" -> NamedQuery(
      fn = (s, d) => {
        // persist ONLY the O(vocab) aggregate (it feeds its own broadcast
        // AND the total aggregate). The exploded token corpus is NOT
        // cached: at 100 TB an O(corpus tokens) cache is not viable, so
        // the probe side deliberately re-tokenizes — one extra columnar
        // scan beats materializing the corpus into executor storage.
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        graft.ops.CacheScope.withPersisted(vocab) {
          val total = vocab.agg(sum(col("cnt")).as("total"))
          toks.join(broadcast(vocab), Seq("tok"))
            .crossJoin(broadcast(total))
            .withColumn("lp",
              round(log(col("cnt").cast("double") / col("total")), 6)
                .cast(DecimalType(28, 6)))
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_tokens"),
              (sum(col("lp")) * lit(1000000L)).cast("long").as("micro"))
            // half-away-from-zero of the exact rational micro/n_tokens:
            // (2a + b) div (2b) on non-negative a keeps every step in
            // int64 (|micro| <= 20e6 * n_tokens), then ONE exact
            // int->double cast and one correctly-rounded IEEE division
            // — bit-identical across engines.
            .withColumn("avg_logprob",
              (when(col("micro") < 0, lit(-1L)).otherwise(lit(1L)) *
                expr("(2 * abs(micro) + n_tokens) div (2 * n_tokens)"))
                .cast("double") / lit(1e6))
            .drop("micro")
            .orderBy("doc_id")
        }
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        tot AS (SELECT SUM(cnt) AS total FROM vocab),
        sums AS (
          SELECT doc_id, COUNT(*) AS n_tokens,
                 CAST(SUM(CAST(round(ln(CAST(cnt AS DOUBLE) / total), 6) AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS micro
          FROM toks JOIN vocab USING (tok) CROSS JOIN tot
          GROUP BY doc_id)
        SELECT doc_id, n_tokens,
               CAST((CASE WHEN micro < 0 THEN -1 ELSE 1 END)
                    * ((2 * abs(micro) + n_tokens) // (2 * n_tokens)) AS DOUBLE) / 1e6 AS avg_logprob
        FROM sums
        ORDER BY doc_id"""),
      doc = "unigram-LM mean log-prob quality score per doc (north-star)"),

    // ---------------------------------------------------------------- q98
    // One BPE-style merge step: corpus-wide adjacent-pair frequencies,
    // top 20 with a full deterministic tiebreak (count desc, pair asc)
    // — the aggregate a tokenizer trainer computes once per merge
    // round. One pair-keyed shuffle with map-side partial counts; the
    // top-k is a 20-row TakeOrdered, never a global sort of the pair
    // vocabulary.
    "q98_bpe_merge_step" -> NamedQuery(
      fn = (s, d) => {
        tokenArrays(s, d)
          .filter(size(col("arr")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, size(arr) - 1), i -> concat_ws(' ', slice(arr, i, 2)))"))
            .as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair").asc)
          .limit(20)
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        bg AS (
          SELECT unnest(list_transform(range(1, len(arr)),
                 i -> array_to_string(list_slice(arr, i, i + 1), ' '))) AS pair
          FROM arrs WHERE len(arr) >= 2)
        SELECT pair, COUNT(*) AS n
        FROM bg GROUP BY pair
        ORDER BY n DESC, pair ASC
        LIMIT 20"""),
      doc = "BPE merge-step candidate: corpus top-20 adjacent pairs (north-star)"),

    // --------------------------------------------------------------- q106
    // Per-document contamination RATE — q66's decontamination audit at
    // keep/drop granularity: for every training doc, the fraction of its
    // distinct 5-grams that appear in the eval set (docs absent from the
    // overlap join score 0.0 via the left join, so the output covers the
    // WHOLE training corpus, not just contaminated docs). Same keyed
    // shapes as q66 — one tokenize+distinct shuffle feeding both sides,
    // eval grams broadcast — so the plan scales identically; the extra
    // left join is doc_id-keyed.
    "q106_contamination_rate" -> NamedQuery(
      fn = (s, d) => {
        val grams = tokenArrays(s, d)
          .filter(size(col("arr")) >= 5)
          .select(col("doc_id"),
            explode(expr(
              "transform(sequence(1, size(arr) - 4), i -> concat_ws(' ', slice(arr, i, 5)))"))
              .as("gram"))
          // distinct keyed by doc_id ALONE (q66/q93 cache-keying
          // pattern): totals' groupBy(doc_id), shared's broadcast-join
          // + groupBy(doc_id), and the totals⋈shared join all ride the
          // cache's doc_id partitioning — zero further exchange of the
          // corpus gram table (guide §2.4).
          .repartition(col("doc_id"))
          .distinct()
        graft.ops.CacheScope.withPersisted(grams) {
          val evalGrams = grams.filter(col("doc_id") % 97 === 0)
            .select("gram").distinct()
          val train = grams.filter(col("doc_id") % 97 =!= 0)
          val totals = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
          val shared = train.join(broadcast(evalGrams), Seq("gram"))
            .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
          totals.join(shared, Seq("doc_id"), "left")
            .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
            .withColumn("contamination_rate",
              expr("(2 * 1000000 * n_shared + n_grams) div (2 * n_grams)")
                .cast("double") / lit(1e6))
            .orderBy("doc_id")
        }
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(arr) - 3),
                 i -> array_to_string(list_slice(arr, i, i + 4), ' '))) AS gram
          FROM arrs WHERE len(arr) >= 5),
        eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        train AS (SELECT doc_id, gram FROM grams WHERE doc_id % 97 <> 0),
        totals AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id),
        shared AS (
          SELECT doc_id, COUNT(*) AS n_shared
          FROM train JOIN eval_grams USING (gram)
          GROUP BY doc_id)
        SELECT t.doc_id, t.n_grams, COALESCE(s.n_shared, 0) AS n_shared,
               CAST((2 * 1000000 * COALESCE(s.n_shared, 0) + t.n_grams) // (2 * t.n_grams) AS DOUBLE) / 1e6 AS contamination_rate
        FROM totals t LEFT JOIN shared s USING (doc_id)
        ORDER BY t.doc_id"""),
      doc = "per-doc eval-contamination fraction over 5-grams, full-corpus coverage (north-star)"),

    // --------------------------------------------------------------- q110
    // EXACT-budget mixture allocation — the complement of q68's
    // rate-based sampler: a fixed total budget (200 docs) is split
    // across sources proportionally to their char mass with the
    // largest-remainder method (pure integer arithmetic: floor quotas +
    // the k largest remainders get one extra — sums to the budget
    // EXACTLY), then each source's quota is filled by md5-hash rank
    // (replayable, no rand()). The quota table is O(#sources) and
    // broadcast; the only big-data shuffles are the per-source char
    // agg and the per-source window — both keyed on source.
    "q110_budget_mixture" -> NamedQuery(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
        val w = docs.groupBy("source").agg(sum(col("n_chars")).as("chars"))
        val tot = w.agg(sum(col("chars")).as("total"))
        val alloc = w.crossJoin(broadcast(tot))
          .withColumn("base", expr("(200 * chars) div total"))
          .withColumn("rem", expr("(200 * chars) % total"))
        val k = alloc.agg((lit(200L) - sum(col("base"))).as("k"))
        // #sources rows: the single-partition window is deliberate
        val quota = alloc
          .withColumn("rr", row_number()
            .over(Window.orderBy(col("rem").desc, col("source"))).cast("long"))
          .crossJoin(broadcast(k))
          .withColumn("n_take",
            col("base") + when(col("rr") <= col("k"), 1L).otherwise(0L))
          .select("source", "n_take")
        val picks = docs.select("doc_id", "source")
          .withColumn("rk", row_number().over(Window.partitionBy("source")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).cast("long"))
        picks.join(broadcast(quota), Seq("source"))
          .filter(col("rk") <= col("n_take"))
          .select("doc_id", "source", "rk")
          .orderBy("source", "rk")
      },
      oracle = Some("""
        WITH w AS (SELECT source, SUM(n_chars) AS chars FROM documents GROUP BY source),
        t AS (SELECT SUM(chars) AS total FROM w),
        alloc AS (
          SELECT source, (200 * chars) // total AS base, (200 * chars) % total AS rem
          FROM w, t),
        ranked AS (
          SELECT source, base,
                 CAST(row_number() OVER (ORDER BY rem DESC, source ASC) AS BIGINT) AS rr
          FROM alloc),
        quota AS (
          SELECT source,
                 base + CASE WHEN rr <= (SELECT 200 - SUM(base) FROM alloc) THEN 1 ELSE 0 END AS n_take
          FROM ranked),
        picks AS (
          SELECT doc_id, source,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
          FROM documents)
        SELECT p.doc_id, p.source, p.rk
        FROM picks p JOIN quota q USING (source)
        WHERE p.rk <= q.n_take
        ORDER BY p.source, p.rk"""),
      doc = "exact-budget mixture: largest-remainder source quotas + hash-rank picks (north-star)"),

    // --------------------------------------------------------------- q132
    // Seeded deterministic global shuffle — the last step before tokens
    // hit a trainer: a reproducible pseudo-random permutation of the
    // corpus into n shards with a stable within-shard order. The key is
    // md5(seed # doc_id), so the permutation is a pure function of
    // (seed, corpus): same seed → identical epoch order on any cluster,
    // next epoch → new seed → fresh permutation, no RNG state anywhere.
    // Unlike the F3/F4 seeded ops (rows-only by design, Spark's
    // sample() RNG is engine-private), THIS shuffle is oracle
    // hash-matched — both engines compute the identical md5. Scale:
    // shard count tracks output-file count (thousands at 100 TB), so
    // the per-shard window is bounded by corpus/nShards; the plan is
    // ONE hash exchange on shard + an in-partition sort — exactly the
    // write path of a sharded training-data sink.
    "q132_seeded_shuffle" -> NamedQuery(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val seed = "graft-epoch-0"
        val h = md5(concat_ws("#", lit(seed), col("doc_id").cast("string")))
        val shard = conv(substring(col("h"), 1, 3), 16, 10).cast("long") % 8
        Tables.documents(s, d)
          .select(col("doc_id"), h.as("h"))
          .withColumn("shard", shard)
          .select(col("doc_id"), col("shard"),
            row_number().over(
              Window.partitionBy("shard").orderBy("h", "doc_id"))
              .cast("long").as("pos"))
          .orderBy("shard", "pos")
      },
      oracle = Some("""
        WITH k AS (
          SELECT doc_id,
                 md5('graft-epoch-0' || '#' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
        hx AS (
          SELECT doc_id, h,
                 ascii(substr(h, 1, 1)) AS a0, ascii(substr(h, 2, 1)) AS a1,
                 ascii(substr(h, 3, 1)) AS a2
          FROM k),
        sh AS (
          SELECT doc_id, h,
                 CAST(((a0 - CASE WHEN a0 >= 97 THEN 87 ELSE 48 END) * 256
                     + (a1 - CASE WHEN a1 >= 97 THEN 87 ELSE 48 END) * 16
                     + (a2 - CASE WHEN a2 >= 97 THEN 87 ELSE 48 END)) % 8 AS BIGINT) AS shard
          FROM hx)
        SELECT doc_id, shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
        FROM sh
        ORDER BY shard, pos"""),
      doc = "seeded deterministic epoch shuffle: md5-keyed shard + stable order, oracle-matched (north-star)"),

    // --------------------------------------------------------------- q135
    // k-anonymity audit — the quasi-identifier risk check before a
    // corpus release (complement of q82's PII redaction, which handles
    // DIRECT identifiers): bucket every document by its quasi-identifier
    // tuple (lang, source, length-bucket) and report the buckets with
    // fewer than k members — the rows an attacker could re-identify by
    // joining on those attributes. ONE keyed aggregate, O(distinct
    // tuples) output; at 100 TB this is a groupBy like any other, and
    // the remediation (generalize the bucket, suppress the rows) reuses
    // the same frame. Floor division keeps the bucket integer-exact in
    // both engines (positive lengths: truncation == floor).
    "q135_kanon_audit" -> NamedQuery(
      fn = (s, d) => {
        val k = 5
        Tables.documents(s, d)
          .select(col("lang"), col("source"),
            floor(length(col("text")) / 100).cast("long").as("len_bucket"))
          .groupBy("lang", "source", "len_bucket")
          .agg(count(lit(1)).as("n_rows"))
          .filter(col("n_rows") < k)
          .orderBy("lang", "source", "len_bucket")
      },
      oracle = Some("""
        SELECT lang, source,
               CAST(length(text) // 100 AS BIGINT) AS len_bucket,
               COUNT(*) AS n_rows
        FROM documents
        GROUP BY lang, source, len_bucket
        HAVING COUNT(*) < 5
        ORDER BY lang, source, len_bucket"""),
      doc = "k-anonymity audit: quasi-identifier buckets under k members, the release-risk list (north-star)"),

    // --------------------------------------------------------------- q136
    // Bigram PMI collocation mining — the corpus statistic behind
    // phrase induction and tokenizer-merge seeding: pointwise mutual
    // information ln(p(ab) / (p(a)p(b))) for every adjacent token pair
    // seen ≥ 5 times. Everything is keyed on the token (bigram counts,
    // two unigram joins); the only broadcasts are the two 1-row totals.
    // The unigram sides are deliberately NOT hint-broadcast: vocabulary
    // is unbounded at corpus scale, and a keyed join on a/b is the
    // 100 TB plan (AQE may still broadcast small vocabs at small SF).
    // Transcendental output rounds to 6 decimals per the parity rules;
    // the division tree is mirrored exactly in the oracle.
    "q136_bigram_pmi" -> NamedQuery(
      fn = (s, d) => {
        val arrs = tokenArrays(s, d).select(col("arr"))
          .filter(size(col("arr")) >= 2)
        // uni feeds three consumers (total + both vocab joins) and big
        // two (total + the filtered join) — scope-persist the small
        // post-agg frames so the corpus is tokenized twice, not five
        // times, with the unpersist paired on this path (CacheScope)
        val uni = arrs.select(explode(col("arr")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n_tok"))
        val big = arrs.select(explode(expr(
            """transform(sequence(1, size(arr) - 1),
               i -> struct(element_at(arr, i) AS a, element_at(arr, i + 1) AS b))"""))
            .as("bg"))
          .select(col("bg.a").as("a"), col("bg.b").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
        graft.ops.CacheScope.withPersisted(uni, big) {
          val nTok = uni.agg(sum(col("n_tok")).as("n_total_tok"))
          val nBig = big.agg(sum(col("n_ab")).as("n_total_big"))
          big.filter(col("n_ab") >= 5)
            .join(uni.select(col("tok").as("a"), col("n_tok").as("n_a")), Seq("a"))
            .join(uni.select(col("tok").as("b"), col("n_tok").as("n_b")), Seq("b"))
            .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
            .select(col("a"), col("b"), col("n_ab"),
              round(log(
                (col("n_ab").cast("double") / col("n_total_big")) /
                  ((col("n_a").cast("double") / col("n_total_tok")) *
                    (col("n_b").cast("double") / col("n_total_tok")))), 6).as("pmi"))
            .orderBy("a", "b")
        }
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents
          WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
        uni AS (
          SELECT unnest(arr) AS tok FROM arrs),
        ucnt AS (SELECT tok, COUNT(*) AS n_tok FROM uni GROUP BY tok),
        pairs AS (
          SELECT unnest(list_slice(arr, 1, len(arr) - 1)) AS a,
                 unnest(list_slice(arr, 2, len(arr))) AS b
          FROM arrs),
        bcnt AS (SELECT a, b, COUNT(*) AS n_ab FROM pairs GROUP BY a, b),
        tot AS (SELECT (SELECT SUM(n_tok) FROM ucnt) AS n_total_tok,
                       (SELECT SUM(n_ab) FROM bcnt) AS n_total_big)
        SELECT c.a, c.b, CAST(c.n_ab AS BIGINT) AS n_ab,
               round(ln(
                 (CAST(c.n_ab AS DOUBLE) / t.n_total_big) /
                   ((CAST(ua.n_tok AS DOUBLE) / t.n_total_tok) *
                     (CAST(ub.n_tok AS DOUBLE) / t.n_total_tok))), 6) AS pmi
        FROM bcnt c
        JOIN ucnt ua ON ua.tok = c.a
        JOIN ucnt ub ON ub.tok = c.b
        CROSS JOIN tot t
        WHERE c.n_ab >= 5
        ORDER BY c.a, c.b"""),
      doc = "bigram PMI collocation mining: token-keyed counts + two vocab joins, round-6 parity (north-star)"),

    // --------------------------------------------------------------- q137
    // GroupKFold — the leakage-safe split q115 deliberately isn't: the
    // fold is a pure function of the GROUP (md5(source) % k), so every
    // document of a source lands in one fold and near-duplicate /
    // same-provenance rows can never straddle train and eval — the
    // split discipline that keeps a contamination-free holdout (q66's
    // decontamination handles the cross-CORPUS case; this handles
    // cross-FOLD). Map-side fold assignment + one keyed aggregate;
    // output is the fold manifest (sources, docs, doc share) a training
    // job reads before consuming shards. The no-straddle property is
    // by construction (fold derives from source alone), and the
    // manifest's n_sources-per-fold sum proves the partition is
    // exhaustive.
    "q137_group_kfold" -> NamedQuery(
      fn = (s, d) => {
        val fold = (conv(substring(md5(col("source")), 1, 3), 16, 10)
          .cast("long") % 5L).as("fold")
        val docs = Tables.documents(s, d).select(fold, col("source"))
        val total = docs.agg(count(lit(1)).as("n_total"))
        docs.groupBy("fold")
          .agg(countDistinct(col("source")).as("n_sources"),
            count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(total))
          .select(col("fold"), col("n_sources"), col("n_docs"),
            (expr("(2 * 1000000 * n_docs + n_total) div (2 * n_total)")
              .cast("double") / lit(1e6)).as("frac_docs"))
          .orderBy("fold")
      },
      oracle = Some("""
        WITH f AS (
          SELECT CAST('0x' || substr(md5(source), 1, 3) AS BIGINT) % 5 AS fold,
                 source
          FROM documents),
        t AS (SELECT COUNT(*) AS n_total FROM f)
        SELECT fold, CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               COUNT(*) AS n_docs,
               CAST((2 * 1000000 * COUNT(*) + t.n_total) // (2 * t.n_total) AS DOUBLE) / 1e6 AS frac_docs
        FROM f CROSS JOIN t
        GROUP BY fold, t.n_total
        ORDER BY fold"""),
      doc = "GroupKFold: fold = md5(source) % k, group-leakage-free by construction, fold manifest (ML prep)"),

    // --------------------------------------------------------------- q138
    // Out-of-order event-time audit — the statistic that SIZES a
    // streaming watermark: along ingest order (event_id, the sequence
    // key), how often does event time regress per user, and by how
    // much at worst? `withWatermark(maxLateness)` bounds state
    // correctly only if this number is measured, not guessed; the
    // audit is one keyed window (lag over user_id ordered by the
    // sequence) + one keyed aggregate — all integer µs arithmetic, no
    // float anywhere. At 100 TB: one shuffle on user_id, state O(1)
    // per row.
    "q138_out_of_order_audit" -> NamedQuery(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts_us"))
          .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("ts_us") < col("prev_ts"), 1L).otherwise(0L)).as("n_out_of_order"),
            coalesce(max(when(col("ts_us") < col("prev_ts"),
              col("prev_ts") - col("ts_us"))), lit(0L)).as("max_lateness_us"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
          FROM events)
        SELECT user_id, COUNT(*) AS n_events,
               CAST(COALESCE(SUM(CASE WHEN ts_us < prev_ts THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_out_of_order,
               CAST(COALESCE(MAX(CASE WHEN ts_us < prev_ts THEN prev_ts - ts_us END), 0) AS BIGINT) AS max_lateness_us
        FROM e
        GROUP BY user_id
        ORDER BY user_id"""),
      doc = "out-of-order event-time audit: lateness along the ingest sequence, the watermark-sizing statistic"),

    // --------------------------------------------------------------- q140
    // Curriculum token-budget cut — the greedy knapsack every mixture
    // designer runs: rank sources by a quality proxy (mean doc length
    // here; any per-source score slots in), admit sources in rank order
    // until the cumulative token count crosses the budget (half the
    // corpus). Unlike q110 (proportional largest-remainder) and q121
    // (Gini concentration), this is the SELECTION step: which sources
    // make the cut at all. Scale: one keyed corpus-sized aggregate to
    // source grain, then ranking/cumulating over the SOURCE list (tiny
    // by construction) — the single-partition window never sees
    // row-scale data. The budget compare stays in exact integers
    // (2*cum <= total), no double drift.
    "q140_curriculum_cut" -> NamedQuery(
      fn = (s, d) => {
        val perSource = tokenArrays(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(col("arr")).cast("long")).as("src_toks"))
        val total = perSource.agg(sum(col("src_toks")).as("total_toks"))
        val ranked = perSource
          // exact: 1000*sum div count in integers — no double quality
          // score to drift across engines
          .withColumn("avg_toks_x1000", expr("src_toks * 1000 div n_docs"))
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("avg_toks_x1000").desc, col("source").asc)).cast("long"))
          .withColumn("cum_toks", sum(col("src_toks")).over(
            Window.orderBy(col("rnk")).rowsBetween(Window.unboundedPreceding, 0)))
        ranked.crossJoin(broadcast(total))
          .withColumn("kept", (col("cum_toks") * 2L <= col("total_toks")).cast("int"))
          .select("rnk", "source", "src_toks", "cum_toks", "kept")
          .orderBy("rnk")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT d.source, len(regexp_split_to_array(trim(d.text), '\s+')) AS n
          FROM documents d),
        per_source AS (
          SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS src_toks
          FROM toks GROUP BY source),
        ranked AS (
          SELECT source, src_toks,
                 (src_toks * 1000) // n_docs AS avg_toks_x1000,
                 row_number() OVER (ORDER BY (src_toks * 1000) // n_docs DESC,
                                    source ASC) AS rnk
          FROM per_source),
        cum AS (
          SELECT rnk, source, src_toks,
                 CAST(SUM(src_toks) OVER (ORDER BY rnk
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
          FROM ranked)
        SELECT CAST(rnk AS BIGINT) AS rnk, source, src_toks, cum_toks,
               CAST(CASE WHEN cum_toks * 2 <= (SELECT SUM(src_toks) FROM per_source)
                    THEN 1 ELSE 0 END AS INT) AS kept
        FROM cum
        ORDER BY rnk"""),
      doc = "curriculum cut: quality-ranked sources admitted until the token budget, exact-integer compare"),

    // --------------------------------------------------------------- q147
    // Deterministic weighted sampling without replacement — the
    // Efraimidis–Spirakis A-ES scheme (key = u^(1/w), keep the top-k
    // keys) in its log form: key = ln(u)/w, identical ordering, no pow.
    // u is a 48-bit uniform derived from md5(doc_id) — fully replayable,
    // like q105/q132's md5-rank family, but WEIGHTED (w = n_chars):
    // longer documents are proportionally more likely to make the
    // sample, which is what a token-budgeted corpus draw actually
    // wants. Parity: ln is rounded to 6 (transcendental), then the
    // division by the integer weight is a single exact IEEE op both
    // engines perform on identical inputs — no second rounding needed
    // for the ORDER; the displayed key is scaled and rounded. Scale:
    // map-only scoring + one keyed top-k window per source — F3's
    // seeded-sample posture with weights.
    "q147_weighted_sample" -> NamedQuery(
      fn = (s, d) => {
        val keyed = Tables.documents(s, d)
          .withColumn("h",
            conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10).cast("long"))
          // u = (h+1)/2^48 ∈ (0,1]; ln(u) ≤ 0, so keys are ≤ 0 and the
          // LARGEST key wins — ties broken by doc_id for determinism
          .withColumn("lnu", round(log((col("h") + lit(1L)).cast("double")
            / lit(281474976710656.0)), 6))
          .withColumn("sel_key", col("lnu") / col("n_chars"))
        keyed
          .withColumn("rnk", row_number().over(
            Window.partitionBy("source").orderBy(col("sel_key").desc, col("doc_id").asc))
            .cast("long"))
          .filter(col("rnk") <= 5)
          .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"),
            round(col("sel_key") * 1000000.0, 6).as("key_x1e6"))
          .orderBy("source", "rnk")
      },
      oracle = Some("""
        WITH keyed AS (
          SELECT source, doc_id, n_chars,
                 round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                           + 1) / 281474976710656.0), 6) / n_chars AS sel_key
          FROM documents),
        ranked AS (
          SELECT source, doc_id, n_chars, sel_key,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY sel_key DESC, doc_id ASC) AS rnk
          FROM keyed)
        SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, n_chars,
               round(sel_key * 1000000.0, 6) + 0.0 AS key_x1e6
        FROM ranked
        WHERE rnk <= 5
        ORDER BY source, rnk"""),
      doc = "A-ES weighted sample: ln(u)/w keys from md5, top-5 per source, replayable (north-star)"),

    // --------------------------------------------------------------- q172
    // DSIR-style importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every raw
    // document by how target-like it is under bag-of-unigrams language
    // models — logw(doc) = Σ_tok tf · (ln p_target(tok) − ln p_raw(tok))
    // with add-1 smoothing over the raw vocabulary — then keep the
    // top-100 by (logw desc, doc_id). The TARGET here is data-derived
    // and deterministic: the src0/src1 slice stands in for the
    // high-quality domain sample DSIR is seeded with. Composition of
    // the q70 (unigram logprob) and q146 (distribution contrast)
    // machinery into the published selection op. Scale: both LMs are
    // keyed token aggregates; the target LM and vocab total are
    // bounded (vocab-sized / 1-row) broadcasts; the per-doc sum is one
    // keyed agg, exact at scale 6 — no sort until the final bounded
    // top-k. Parity: ln-ratio rounds to 6 per token (Registry
    // transcendental rule), exact per-doc sums.
    "q172_dsir_weights" -> NamedQuery(
      fn = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        val rawCnt = toks.groupBy("tok").agg(count(lit(1)).as("c_raw"))
        val tgtCnt = toks.filter(col("source").isin("src0", "src1"))
          .groupBy("tok").agg(count(lit(1)).as("c_tgt"))
        // smoothing denominator uses the RAW vocabulary (V) on both
        // sides so unseen-in-target tokens get mass 1/(tot_tgt + V)
        val stats = rawCnt.agg(
          sum(col("c_raw")).as("tot_raw"),
          count(lit(1)).as("v"))
        // coalesce mirrors the oracle: an empty target slice must yield
        // tot_tgt = 0 (real ln(1/(0+V)) weights), not NULL-poison every lnr
        val tgtTot = tgtCnt.agg(coalesce(sum(col("c_tgt")), lit(0L)).as("tot_tgt"))
        val lm = rawCnt.join(tgtCnt, Seq("tok"), "left")
          .na.fill(0L, Seq("c_tgt"))
          .crossJoin(broadcast(stats)).crossJoin(broadcast(tgtTot))
          .withColumn("lnr", round(
            log((col("c_tgt") + lit(1)).cast("double") / (col("tot_tgt") + col("v"))) -
            log((col("c_raw") + lit(1)).cast("double") / (col("tot_raw") + col("v"))), 6))
          .select("tok", "lnr")
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        // selection via the native partial top-k (k-sized buffers per
        // partition, payload tiebreak = doc_id — q152's pattern), never
        // a corpus-wide sort; semantics = row_number() <= 100 exactly
        tf.join(broadcast(lm), Seq("tok"))
          .groupBy("doc_id")
          .agg(exactSum(col("tf") * col("lnr"), 6).as("logw"))
          .agg(expr("top_k_pairs(logw, doc_id, 100)").as("topk"))
          .select(posexplode(col("topk")).as(Seq("pos", "p")))
          .select((col("pos") + 1).cast("long").as("rnk"),
            col("p.payload").as("doc_id"), col("p.score").as("logw"))
          .orderBy("rnk")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, source,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        raw_cnt AS (SELECT tok, COUNT(*) AS c_raw FROM toks GROUP BY 1),
        tgt_cnt AS (SELECT tok, COUNT(*) AS c_tgt FROM toks
                    WHERE source IN ('src0', 'src1') GROUP BY 1),
        stats AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS tot_raw,
                         COUNT(*) AS v FROM raw_cnt),
        tgt_tot AS (SELECT CAST(COALESCE(SUM(c_tgt), 0) AS BIGINT) AS tot_tgt FROM tgt_cnt),
        lm AS (
          SELECT r.tok,
                 round(ln((COALESCE(t.c_tgt, 0) + 1.0) / (g.tot_tgt + s.v))
                     - ln((r.c_raw + 1.0) / (s.tot_raw + s.v)), 6) AS lnr
          FROM raw_cnt r
          LEFT JOIN tgt_cnt t USING (tok)
          CROSS JOIN stats s CROSS JOIN tgt_tot g),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        w AS (
          SELECT doc_id,
                 CAST(SUM(CAST(tf * lnr AS DECIMAL(18,6))) AS DOUBLE) AS logw
          FROM tf JOIN lm USING (tok)
          GROUP BY doc_id)
        SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, logw
        FROM (SELECT doc_id, logw,
                     row_number() OVER (ORDER BY logw DESC, doc_id ASC) AS rnk
              FROM w)
        WHERE rnk <= 100
        ORDER BY rnk"""),
      doc = "DSIR importance weights: per-doc target-vs-raw unigram log-ratio, top-100 resample selection (pretraining data curation)"),

    // --------------------------------------------------------------- q178
    // Sliding context-window chunking (north-star): split each doc into
    // token windows of W = 32 with stride S = 24 (8-token overlap) — the
    // training-example extraction step between curation and packing
    // (q63 packs whole docs; this is the long-doc path where one doc
    // becomes many attention windows). Pure per-row column algebra:
    // chunk count from the arithmetic ceil form, `sequence` + `explode`
    // for indices, `slice` for the window — no shuffle at all until the
    // final presentation sort, so it scales embarrassingly. The last
    // chunk is allowed short (covers the tail); chunk identity is the
    // md5 of the space-joined window, the key downstream chunk-level
    // dedup would consume.
    "q178_context_chunks" -> NamedQuery(
      fn = (s, d) => {
        val W = 32
        val S = 24
        tokenArrays(s, d)
          .withColumn("n_toks", size(col("arr")))
          .withColumn("n_chunks",
            when(col("n_toks") <= W, lit(1L))
              .otherwise(ceil((col("n_toks") - lit(W)).cast("double") / lit(S.toDouble)) + 1L))
          .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
          .withColumn("chunk", slice(col("arr"), (col("chunk_idx") * S + 1).cast("int"), lit(W)))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk")).cast("long").as("chunk_len"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
          .orderBy("doc_id", "chunk_idx")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents),
        m AS (
          SELECT doc_id, toks,
                 CASE WHEN len(toks) <= 32 THEN 1
                      ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1 END AS n_chunks
          FROM d),
        c AS (
          SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_idx, toks FROM m),
        sl AS (
          SELECT doc_id, chunk_idx,
                 toks[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)] AS chunk
          FROM c)
        SELECT doc_id, chunk_idx,
               CAST(len(chunk) AS BIGINT) AS chunk_len,
               md5(array_to_string(chunk, ' ')) AS chunk_hash
        FROM sl
        ORDER BY doc_id, chunk_idx"""),
      doc = "sliding context-window chunking (W=32, stride 24): per-doc training-window extraction, shuffle-free (north-star)"),

    // --------------------------------------------------------------- q182
    // Full BPE tokenizer TRAINING (Sennrich et al.): q98 is one merge
    // round; this runs the actual iterative algorithm — 3 rounds of
    // (weighted adjacent-pair count → global argmax → greedy merge
    // rewrite) over word-internal character sequences, exactly classic
    // BPE on the word-frequency table. Relational design:
    //  - the corpus collapses to (word, cnt) ONCE — every round after
    //    is vocabulary-sized, keyed on the pair;
    //  - each round's argmax is a 1-row TakeOrdered frame BROADCAST
    //    into the rewrite (no driver pull at all — the merge table is
    //    built by unioning the three 1-row frames);
    //  - sequences use a DOUBLE-delimiter encoding ('|c||a||t|') so the
    //    merge rewrite is a plain substring replace: '|a||b|'→'|ab|'.
    //    Both engines' replace() scans left-to-right non-overlapping,
    //    which IS greedy BPE merge order, and the doubled delimiter
    //    makes adjacent matches share no characters ('|a||a||a|'
    //    merges once, like BPE — a single-space encoding would consume
    //    the shared separator and under-merge);
    //  - each round is lazily localCheckpoint'ed (the components-loop
    //    pattern): lineage stays flat, and no round's subtree is
    //    recomputed by later rounds' plans.
    "q182_bpe_train" -> NamedQuery(
      fn = (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
        var seqs = words
          .withColumn("seq",
            concat(lit("|"), array_join(split(col("tok"), ""), "||"), lit("|")))
          .select("cnt", "seq")
          .localCheckpoint(false)
        val merges = (1 to 3).map { step =>
          val pairs = seqs
            .withColumn("sym", expr("split(substring(seq, 2, length(seq) - 2), '\\\\|\\\\|')"))
            // single-symbol sequences contribute no pairs; the guard
            // matters because Spark's sequence(1, 0) DESCENDS (q181's
            // hazard) — DuckDB's range(1, 1) is empty and needs none
            .filter(size(col("sym")) >= 2)
            .select(col("cnt"), explode(expr(
              "transform(sequence(1, size(sym) - 1), " +
                "i -> struct(element_at(sym, i) AS l, element_at(sym, i + 1) AS r))")).as("p"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum(col("cnt")).as("n"))
          val top = pairs
            .orderBy(col("n").desc, col("l").asc, col("r").asc).limit(1)
            .localCheckpoint(false)
          seqs = seqs.crossJoin(broadcast(top))
            .withColumn("seq", expr(
              "replace(seq, concat('|', l, '||', r, '|'), concat('|', l, r, '|'))"))
            .select("cnt", "seq")
            .localCheckpoint(false)
          top.withColumn("step", lit(step.toLong))
        }
        merges.reduce(_ unionByName _)
          .select(col("step"), col("l"), col("r"),
            concat(col("l"), col("r")).as("merged"), col("n"))
          .orderBy("step")
      },
      oracle = Some("""
        WITH words AS (
          SELECT tok, COUNT(*) AS cnt
          FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents)
          GROUP BY tok),
        seq0 AS (
          SELECT cnt, '|' || array_to_string(string_split(tok, ''), '||') || '|' AS seq
          FROM words),
        pairs0 AS (
          SELECT sym[i] AS l, sym[i+1] AS r, CAST(SUM(cnt) AS BIGINT) AS n
          FROM (SELECT cnt, string_split(trim(seq, '|'), '||') AS sym FROM seq0)
               CROSS JOIN LATERAL unnest(range(1, len(sym))) AS t(i)
          GROUP BY 1, 2),
        m1 AS (SELECT l, r, n FROM pairs0 ORDER BY n DESC, l ASC, r ASC LIMIT 1),
        seq1 AS (
          SELECT cnt,
                 replace(seq, '|' || (SELECT l FROM m1) || '||' || (SELECT r FROM m1) || '|',
                              '|' || (SELECT l FROM m1) || (SELECT r FROM m1) || '|') AS seq
          FROM seq0),
        pairs1 AS (
          SELECT sym[i] AS l, sym[i+1] AS r, CAST(SUM(cnt) AS BIGINT) AS n
          FROM (SELECT cnt, string_split(trim(seq, '|'), '||') AS sym FROM seq1)
               CROSS JOIN LATERAL unnest(range(1, len(sym))) AS t(i)
          GROUP BY 1, 2),
        m2 AS (SELECT l, r, n FROM pairs1 ORDER BY n DESC, l ASC, r ASC LIMIT 1),
        seq2 AS (
          SELECT cnt,
                 replace(seq, '|' || (SELECT l FROM m2) || '||' || (SELECT r FROM m2) || '|',
                              '|' || (SELECT l FROM m2) || (SELECT r FROM m2) || '|') AS seq
          FROM seq1),
        pairs2 AS (
          SELECT sym[i] AS l, sym[i+1] AS r, CAST(SUM(cnt) AS BIGINT) AS n
          FROM (SELECT cnt, string_split(trim(seq, '|'), '||') AS sym FROM seq2)
               CROSS JOIN LATERAL unnest(range(1, len(sym))) AS t(i)
          GROUP BY 1, 2),
        m3 AS (SELECT l, r, n FROM pairs2 ORDER BY n DESC, l ASC, r ASC LIMIT 1)
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS step, l, r, l || r AS merged, n FROM m1
          UNION ALL SELECT 2, l, r, l || r, n FROM m2
          UNION ALL SELECT 3, l, r, l || r, n FROM m3)
        ORDER BY step"""),
      doc = "iterative BPE tokenizer training: 3 rounds of weighted pair-count -> broadcast argmax -> greedy merge rewrite on the word-frequency table (north-star)"),

    // --------------------------------------------------------------- q185
    // Per-source quality keep-rate with a Wilson 95% score interval —
    // the statistically honest version of the q133-style DQ report: a
    // source with 3/4 docs kept and one with 3000/4000 have the same
    // point rate but very different evidence, and the curation decision
    // ("drop the source?") should see the interval, not the ratio. One
    // keyed aggregation; z = 1.96 exactly (the double literal is
    // identical in both engines), p̂ from integer counts, and the
    // remaining sqrt/div chain is single-expression IEEE arithmetic on
    // identical inputs — deterministic on both sides.
    "q185_keep_rate_ci" -> NamedQuery(
      fn = (s, d) => {
        import graft.ops.TextOps
        val z = 1.96
        val keep = (col("n_tokens") >= 20 && col("n_tokens") <= 1000) &&
          col("stop_ratio") < 0.5 &&
          (col("avg_token_len") >= 2.0 && col("avg_token_len") <= 12.0)
        val agg = Tables.documents(s, d)
          .withColumn("n_tokens", TextOps.tokenCount(col("text")))
          .withColumn("stop_ratio",
            TextOps.stopwordCount(col("text")).cast("double") / TextOps.tokenCount(col("text")))
          .withColumn("avg_token_len", TextOps.avgTokenLen(col("text")))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(keep, 1L).otherwise(0L)).as("k"))
        val nD = col("n").cast("double")
        val p = col("k").cast("double") / nD
        val z2 = lit(z * z)
        val center = p + z2 / (nD * 2d)
        val half = lit(z) * sqrt(p * (lit(1d) - p) / nD + z2 / (nD * nD * 4d))
        val denom = lit(1d) + z2 / nD
        agg
          .withColumn("keep_rate", round(p, 6))
          .withColumn("ci_low", round((center - half) / denom, 6))
          .withColumn("ci_high", round((center + half) / denom, 6))
          .select("source", "n", "k", "keep_rate", "ci_low", "ci_high")
          .orderBy("source")
      },
      oracle = Some("""
        WITH m AS (
          SELECT source,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                 CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    - len(regexp_split_to_array(trim(regexp_replace(' ' || text || ' ', ' (the|a|of|and|to|in) ', ' ', 'g')), '\s+')) AS BIGINT) AS n_stop,
                 CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len
          FROM documents),
        agg AS (
          SELECT source, COUNT(*) AS n,
                 CAST(COUNT(*) FILTER (
                   n_tokens BETWEEN 20 AND 1000
                   AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5
                   AND avg_token_len BETWEEN 2.0 AND 12.0) AS BIGINT) AS k
          FROM m GROUP BY source)
        SELECT source, n, k,
               round(CAST(k AS DOUBLE) / n, 6) AS keep_rate,
               round((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * CAST(n AS DOUBLE))
                      - 1.96 * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n
                                    + 1.96 * 1.96 / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                     / (1 + 1.96 * 1.96 / CAST(n AS DOUBLE)), 6) AS ci_low,
               round((CAST(k AS DOUBLE) / n + 1.96 * 1.96 / (2 * CAST(n AS DOUBLE))
                      + 1.96 * sqrt(CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n) / n
                                    + 1.96 * 1.96 / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                     / (1 + 1.96 * 1.96 / CAST(n AS DOUBLE)), 6) AS ci_high
        FROM agg
        ORDER BY source"""),
      doc = "per-source keep-rate with Wilson 95% interval: evidence-weighted DQ reporting for source-level curation decisions (north-star)"),

    // --------------------------------------------------------------- q190
    // Greedy maximum-coverage document selection (the classic 1−1/e
    // submodular greedy): pick 3 documents that together cover the most
    // distinct corpus 3-grams — the diversity-first selection shape
    // behind coreset/exemplar curation. Same iterative architecture as
    // q182's BPE: the (doc, gram) incidence is derived ONCE
    // (checkpointed); each round is one keyed aggregation over the
    // UNCOVERED grams with a 1-row TakeOrdered argmax (broadcast, no
    // driver pull), then the covered set grows by the winner's grams.
    // Unigram coverage is degenerate here (one doc spans the whole
    // 31-token vocabulary); 3-grams give a real multi-round frontier.
    "q190_greedy_cover" -> NamedQuery(
      fn = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("arr"))
          .filter(size(col("arr")) >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(arr) - 2), i -> concat_ws(' ', slice(arr, i, 3)))")).as("tok"))
          .distinct()
          .localCheckpoint(false)
        var covered: org.apache.spark.sql.DataFrame = null
        var selected: org.apache.spark.sql.DataFrame = null
        val picks = (1 to 3).map { step =>
          val candidates =
            if (selected == null) toks
            else toks.join(broadcast(selected), Seq("doc_id"), "left_anti")
          val uncovered =
            if (covered == null) candidates
            else candidates.join(covered, Seq("tok"), "left_anti")
          val pick = uncovered.groupBy("doc_id").agg(count(lit(1)).as("gain"))
            .orderBy(col("gain").desc, col("doc_id").asc).limit(1)
            .localCheckpoint(false)
          val pickToks = toks.join(broadcast(pick.select("doc_id")), Seq("doc_id"))
            .select("tok")
          covered =
            (if (covered == null) pickToks
             else covered.unionByName(pickToks).distinct())
              .localCheckpoint(false)
          selected =
            if (selected == null) pick.select("doc_id")
            else selected.unionByName(pick.select("doc_id"))
          pick.withColumn("step", lit(step.toLong))
        }
        picks.reduce(_ unionByName _).select("step", "doc_id", "gain").orderBy("step")
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr FROM documents
          WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        toks AS (
          SELECT DISTINCT doc_id, array_to_string(list_slice(arr, i, i + 2), ' ') AS tok
          FROM arrs CROSS JOIN LATERAL unnest(range(1, len(arr) - 1)) AS t(i)),
        p1 AS (
          SELECT doc_id, COUNT(*) AS gain FROM toks GROUP BY doc_id
          ORDER BY gain DESC, doc_id ASC LIMIT 1),
        cov1 AS (SELECT DISTINCT tok FROM toks WHERE doc_id = (SELECT doc_id FROM p1)),
        p2 AS (
          SELECT t.doc_id, COUNT(*) AS gain
          FROM toks t LEFT JOIN cov1 c ON c.tok = t.tok
          WHERE c.tok IS NULL AND t.doc_id <> (SELECT doc_id FROM p1)
          GROUP BY t.doc_id ORDER BY gain DESC, doc_id ASC LIMIT 1),
        cov2 AS (SELECT tok FROM cov1
                 UNION SELECT tok FROM toks WHERE doc_id = (SELECT doc_id FROM p2)),
        p3 AS (
          SELECT t.doc_id, COUNT(*) AS gain
          FROM toks t LEFT JOIN cov2 c ON c.tok = t.tok
          WHERE c.tok IS NULL
            AND t.doc_id NOT IN ((SELECT doc_id FROM p1), (SELECT doc_id FROM p2))
          GROUP BY t.doc_id ORDER BY gain DESC, doc_id ASC LIMIT 1)
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS step, doc_id, CAST(gain AS BIGINT) AS gain FROM p1
          UNION ALL SELECT 2, doc_id, gain FROM p2
          UNION ALL SELECT 3, doc_id, gain FROM p3)
        ORDER BY step"""),
      doc = "greedy max-coverage selection: 3 rounds of keyed uncovered-gain argmax over 3-gram incidence — submodular coreset curation (north-star)"),

    // --------------------------------------------------------------- q191
    // Chi-square independence audit for the corpus design: is `source`
    // stratified evenly across `lang` (as a synthetic corpus should
    // be), or is some source language-skewed? Full contingency grid
    // (margins crossed — BOTH dims bounded, broadcast), zero-observed
    // cells included, expected counts e = n_l·n_s/N. Parity design:
    // each cell term (o−e)²/e is one IEEE chain on identical integers
    // (bit-identical in both engines); the SUM is made order-
    // independent by flooring each term to integer micro-units first —
    // floor operates on the BINARY value, so unlike decimal rounding it
    // cannot split between Spark's string-based HALF_UP and DuckDB's
    // float round (the q180 lesson). The statistic is declared in
    // floor-micro units: chi2 = chi2_micro / 1e6.
    "q191_chi_square" -> NamedQuery(
      fn = (s, d) => {
        val grid = contingencyGrid(s, d)
          .withColumn("term", (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
          .withColumn("term_micro", floor(col("term") * lit(1e6)).cast("long"))
        grid.agg(
            max(col("n")).as("n"),
            count(lit(1)).as("n_cells"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(col("source")).as("n_sources"),
            sum(col("term_micro")).as("chi2_micro"))
          .withColumn("dof", (col("n_langs") - 1L) * (col("n_sources") - 1L))
          .withColumn("chi2", col("chi2_micro").cast("double") / 1e6)
          .select("n", "n_cells", "dof", "chi2_micro", "chi2")
      },
      oracle = Some("WITH" + contingencyMarginsSql + s""",
        grid AS (
          SELECT l.lang, s.source, l.n_l, s.n_s, nn.n,
                 COALESCE(c.o, 0) AS o,
                 CAST(l.n_l AS DOUBLE) * s.n_s / nn.n AS e
          $contingencyCellsSql),
        terms AS (
          SELECT n, lang, source,
                 CAST(floor((o - e) * (o - e) / e * 1e6) AS BIGINT) AS term_micro
          FROM grid)
        SELECT MAX(n) AS n, COUNT(*) AS n_cells,
               CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT) AS dof,
               CAST(SUM(term_micro) AS BIGINT) AS chi2_micro,
               CAST(SUM(term_micro) AS DOUBLE) / 1e6 AS chi2
        FROM terms"""),
      doc = "chi-square lang x source independence audit: full contingency grid incl. zero cells, order-independent floor-micro term sum (DQ audit)"),

    // --------------------------------------------------------------- q192
    // The composed CURATION PIPELINE, end to end in one plan: quality
    // filter (q48's predicate) → exact dedup (min doc_id per content
    // fingerprint) → sliding context chunking (q178's W=32/S=24, length
    // arithmetic only — no array materialization, packing needs just
    // lengths) → GLOBAL greedy bin packing into 64-token training bins.
    // The packing offset is the one globally-ordered computation, so it
    // runs on PrefixSum.scalableRunningSum (doc_id-bucket aligned with
    // the global order) — row-scale work stays keyed, only the
    // bucket-grain offsets are single-partition. This is the query that
    // proves the stages COMPOSE as one lazy plan: four families, one
    // gate, no intermediate materialization beyond the op's own
    // bucket-offset frame.
    "q192_curation_pipeline" -> NamedQuery(
      fn = (s, d) => {
        import graft.ops.TextOps
        val budget = 64L
        val W = 32
        val S = 24
        val kept = Tables.documents(s, d)
          .withColumn("n_tokens", TextOps.tokenCount(col("text")))
          .withColumn("stop_ratio",
            TextOps.stopwordCount(col("text")).cast("double") / TextOps.tokenCount(col("text")))
          .withColumn("avg_token_len", TextOps.avgTokenLen(col("text")))
          .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
            col("stop_ratio") < 0.5 &&
            col("avg_token_len") >= 2.0 && col("avg_token_len") <= 12.0)
        val deduped = graft.ops.RelationalOps.topKPerGroup(
            Seq("fp"), Seq(col("doc_id").asc), 1)(
            kept.withColumn("fp", md5(lower(trim(col("text"))))))
          .select(col("doc_id"), col("n_tokens"))
        val chunks = deduped
          .withColumn("n_chunks",
            when(col("n_tokens") <= W, lit(1L))
              .otherwise(ceil((col("n_tokens") - lit(W)).cast("double") / lit(S.toDouble)) + 1L))
          .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
          .withColumn("chunk_len",
            least(lit(W.toLong), col("n_tokens") - col("chunk_idx") * S))
          .select("doc_id", "chunk_idx", "chunk_len")
          // scalableRunningSum consumes this twice (bucket offsets +
          // within-bucket window) and the upstream holds the dedup
          // WINDOW — the checkpoint-wins side of the SCALING.md
          // boundary rule (cf. q99)
          .localCheckpoint(false)
        graft.ops.PrefixSum.scalableRunningSum(chunks,
            bucket = expr("doc_id div 100"), bucketName = "doc_bucket",
            orderCols = Seq("doc_id", "chunk_idx"), valueCol = "chunk_len", outCol = "cum")
          .withColumn("offset", col("cum") - col("chunk_len"))
          .withColumn("bin", expr(s"offset div $budget"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("chunk_len")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy("bin")
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id, text,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                 CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    - len(regexp_split_to_array(trim(regexp_replace(' ' || text || ' ', ' (the|a|of|and|to|in) ', ' ', 'g')), '\s+')) AS BIGINT) AS n_stop,
                 CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len
          FROM documents),
        kept AS (
          SELECT doc_id, text, n_tokens FROM m
          WHERE n_tokens BETWEEN 20 AND 1000
            AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5
            AND avg_token_len BETWEEN 2.0 AND 12.0),
        dedup AS (
          SELECT doc_id, n_tokens FROM (
            SELECT doc_id, n_tokens,
                   row_number() OVER (PARTITION BY md5(lower(trim(text)))
                     ORDER BY doc_id) AS rn
            FROM kept)
          WHERE rn = 1),
        nch AS (
          SELECT doc_id, n_tokens,
                 CASE WHEN n_tokens <= 32 THEN 1
                      ELSE CAST(ceil((n_tokens - 32) / 24.0) AS BIGINT) + 1 END AS n_chunks
          FROM dedup),
        chunks AS (
          SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_idx, n_tokens FROM nch),
        cl AS (
          SELECT doc_id, chunk_idx,
                 least(32, n_tokens - chunk_idx * 24) AS chunk_len
          FROM chunks),
        packed AS (
          SELECT doc_id, chunk_idx, chunk_len,
                 COALESCE(SUM(chunk_len) OVER (ORDER BY doc_id, chunk_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS "offset"
          FROM cl)
        SELECT CAST("offset" // 64 AS BIGINT) AS bin,
               COUNT(*) AS n_chunks,
               CAST(SUM(chunk_len) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM packed
        GROUP BY 1
        ORDER BY 1"""),
      doc = "composed curation pipeline: quality filter -> exact dedup -> context chunking -> global 64-token bin packing via scalable prefix sum, one lazy plan (north-star capstone)"),

    // --------------------------------------------------------------- q208
    // Cramér's V on the q191 contingency scaffold — the EFFECT-SIZE
    // companion to the chi-square test (χ² grows with n even for
    // trivial association; V = sqrt(χ²/(n·min(r−1,c−1))) is the
    // bounded [0,1] strength measure reviewers actually compare across
    // corpora). χ² enters in its exact floor-micro integer form, so V
    // is one unrounded IEEE chain on identically-valued inputs.
    "q208_cramers_v" -> NamedQuery(
      fn = (s, d) => {
        val grid = contingencyGrid(s, d)
          .withColumn("term_micro",
            floor((col("o") - col("e")) * (col("o") - col("e")) / col("e") * lit(1e6)).cast("long"))
        grid.agg(
            max(col("n")).as("n"),
            countDistinct(col("lang")).as("n_langs"),
            countDistinct(col("source")).as("n_sources"),
            sum(col("term_micro")).as("chi2_micro"))
          .withColumn("dof_min",
            least(col("n_langs") - 1L, col("n_sources") - 1L))
          .withColumn("v",
            sqrt(col("chi2_micro").cast("double") / 1e6 /
              (col("n").cast("double") * col("dof_min").cast("double"))))
          .select("n", "dof_min", "chi2_micro", "v")
      },
      oracle = Some("WITH" + contingencyMarginsSql + s""",
        grid AS (
          SELECT l.lang, s.source, nn.n,
                 COALESCE(c.o, 0) AS o,
                 CAST(l.n_l AS DOUBLE) * s.n_s / nn.n AS e
          $contingencyCellsSql),
        agg AS (
          SELECT MAX(n) AS n,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
                 CAST(SUM(CAST(floor((o - e) * (o - e) / e * 1e6) AS BIGINT)) AS BIGINT) AS chi2_micro
          FROM grid)
        SELECT n,
               least(n_langs - 1, n_sources - 1) AS dof_min,
               chi2_micro,
               sqrt(CAST(chi2_micro AS DOUBLE) / 1e6
                    / (CAST(n AS DOUBLE) * CAST(least(n_langs - 1, n_sources - 1) AS DOUBLE))) AS v
        FROM agg"""),
      doc = "Cramer's V effect size on the q191 contingency grid: floor-micro chi-square input, unrounded IEEE normalization (DQ audit)")
  )
}
