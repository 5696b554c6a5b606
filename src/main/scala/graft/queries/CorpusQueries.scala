package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Corpus-preparation pipeline (builder-prompt north-star): cleaning,
  * quality filtering, vocabulary, and the composed scale-path dedup —
  * MinHash bands for candidate generation, exact Jaccard only on
  * candidates (never all-pairs; SCALING.md "Dedup").
  */
object CorpusQueries extends QueryModule {
  import DedupQueries.{bandOverlapSql, componentsSql, interJaccSql, minhashBandsSql,
    neardupPairsSql, neardupSql, undirectedEdgesSql, verifiedSql}

  /** Cleaning expression shared by queries: strip URLs, emails, digits. */
  private def cleanedCol(c: String) = graft.ops.TextOps.cleaned(col(c))

  private val cleanedSql =
    "regexp_replace(regexp_replace(regexp_replace(text, 'https?://\\S+', ' ', 'g'), '\\S+@\\S+\\.\\S+', ' ', 'g'), '[0-9]+', ' ', 'g')"

  /** The q169/q170 shared artifact: the verified near-dup edge table,
    * derived once per (session, dataset) and written partitioned by an
    * 8-way d1 bucket (`TempPaths.buildOnce`). `rebuild = true` (the
    * write-side gate q169) always re-derives; consumers (q170) pay only
    * the parquet read, and build on first touch when they run before
    * q169. Returns the table path.
    */
  private def edgeArtifact(s: SparkSession, d: String, rebuild: Boolean = false): String = {
    val dir = TempPaths.buildOnce(s, "q169_edge_artifact", Seq(d), rebuild) { dir =>
      implicit val sp: SparkSession = s
      graft.ops.DedupOps.neardupEdges(
          Tables.documents(s, d), "text", Seq("lang", "source"), 0.5)
        .withColumn("bucket", pmod(col("d1"), lit(8)))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket").parquet(new java.io.File(dir, "edges").getAbsolutePath)
    }
    new java.io.File(dir, "edges").getAbsolutePath
  }

  /** The oracle of q50 and q169: the verified near-dup edges. */
  private val neardupEdgesOracle = s"""
        WITH $neardupSql
        SELECT d1, d2,
               $interJaccSql AS jacc$verifiedSql
        ORDER BY d1, d2"""

  /** The oracle of q55 and q170: cluster sizes of the near-dup components. */
  private val clusterSizesOracle = s"""
        WITH RECURSIVE $neardupPairsSql,$componentsSql
        SELECT cluster, COUNT(*) AS n_docs
        FROM labels
        GROUP BY cluster
        ORDER BY cluster"""

  def queries: Seq[(String, NamedQuery)] = Seq(

    // ---------------------------------------------------------------- q47
    // Cleaning: URL/email/digit stripping with per-source removal stats.
    "q47_text_clean" -> NamedQuery(
      fn = (s, d) => {
        Tables.documents(s, d)
          .withColumn("clean_len", length(trim(cleanedCol("text"))).cast("long"))
          .withColumn("removed", (length(col("text")) - length(trim(cleanedCol("text")))).cast("long"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("clean_len")).as("total_clean_chars"),
            sum(col("removed")).as("total_removed_chars"))
          .orderBy("source")
      },
      oracle = Some(s"""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(length(trim($cleanedSql))) AS BIGINT) AS total_clean_chars,
               CAST(SUM(length(text) - length(trim($cleanedSql))) AS BIGINT) AS total_removed_chars
        FROM documents
        GROUP BY source
        ORDER BY source"""),
      doc = "corpus cleaning: URL/email/digit strip + removal stats (north-star)"),

    // ---------------------------------------------------------------- q48
    // Quality filter: the C4/Dolma-style keep/drop decision as a
    // relational filter — length band, stopword ratio, mean token length.
    "q48_quality_filter" -> NamedQuery(
      fn = (s, d) => {
        import graft.ops.TextOps
        // ratios reported as exact rationals rounded half-away in
        // integer math (PARITY rule 4 fix 2): n_tokens denominators are
        // exactly the small-denominator class whose micro-midpoints
        // split round(double, 6) across engines (q70 hit one at sf1)
        Tables.documents(s, d)
          .withColumn("n_tokens", TextOps.tokenCount(col("text")))
          .withColumn("n_stop", TextOps.stopwordCount(col("text")))
          .withColumn("n_chars_ns",
            length(regexp_replace(col("text"), "\\s+", "")).cast("long"))
          .withColumn("stop_ratio",
            col("n_stop").cast("double") / col("n_tokens"))
          .withColumn("avg_token_len",
            col("n_chars_ns").cast("double") / col("n_tokens"))
          .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000)
          .filter(col("stop_ratio") < 0.5)
          .filter(col("avg_token_len") >= 2.0 && col("avg_token_len") <= 12.0)
          .select(col("doc_id"), col("n_tokens"),
            (expr("(2 * 1000000 * n_stop + n_tokens) div (2 * n_tokens)")
              .cast("double") / lit(1e6)).as("stop_ratio"),
            (expr("(2 * 1000000 * n_chars_ns + n_tokens) div (2 * n_tokens)")
              .cast("double") / lit(1e6)).as("avg_token_len"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
                 CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    - len(regexp_split_to_array(trim(regexp_replace(' ' || text || ' ', ' (the|a|of|and|to|in) ', ' ', 'g')), '\s+')) AS BIGINT) AS n_stop,
                 CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_chars_ns
          FROM documents)
        SELECT doc_id, n_tokens,
               CAST((2 * 1000000 * n_stop + n_tokens) // (2 * n_tokens) AS DOUBLE) / 1e6 AS stop_ratio,
               CAST((2 * 1000000 * n_chars_ns + n_tokens) // (2 * n_tokens) AS DOUBLE) / 1e6 AS avg_token_len
        FROM m
        WHERE n_tokens BETWEEN 20 AND 1000
          AND CAST(n_stop AS DOUBLE) / n_tokens < 0.5
          AND CAST(n_chars_ns AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
        ORDER BY doc_id"""),
      doc = "quality keep/drop filter: length, stopword ratio, token shape (north-star)"),

    // ---------------------------------------------------------------- q49
    // Vocabulary: global token frequencies, top-20 (ties pinned by token).
    "q49_vocab_topk" -> NamedQuery(
      fn = (s, d) => {
        Tables.documents(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc)
          .limit(20)
      },
      oracle = Some("""
        SELECT tok, COUNT(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents)
        GROUP BY tok
        ORDER BY n DESC, tok ASC
        LIMIT 20"""),
      doc = "token-frequency vocabulary top-k (north-star)"),

    // ---------------------------------------------------------------- q50
    // The composed scale-path dedup (SCALING.md): MinHash bands scoped by
    // (lang, source) generate candidates; exact unigram Jaccard runs ONLY
    // on candidates; report near-dups above 0.5. At 100 TB this is the
    // pipeline — q34's all-pairs exact scan is only its recall baseline.
    "q50_dedup_pipeline" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        // the whole pipeline (tokenize → bands → candidates →
        // exploded-join Jaccard verify) is the shared family op
        graft.ops.DedupOps.neardupEdges(
            Tables.documents(s, d), "text", Seq("lang", "source"), 0.5)
          .orderBy("d1", "d2")
      },
      oracle = Some(neardupEdgesOracle),
      doc = "composed dedup: LSH candidates -> exact Jaccard verify (north-star scale path)"),

    // ---------------------------------------------------------------- q55
    // Duplicate clusters: connected components over the q50 near-dup
    // graph (keep-one-per-CLUSTER is the op a corpus dedup actually
    // ships). Spark side: iterative min-label propagation
    // (DedupOps.duplicateClusters, O(diameter) keyed-join rounds);
    // oracle: recursive CTE transitive closure — two different
    // formulations, hash-identical result.
    "q55_dup_clusters" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        val pairs = graft.ops.DedupOps.neardupEdges(
            Tables.documents(s, d), "text", Seq("lang", "source"), 0.5)
          .select("d1", "d2")
        val docs = Tables.documents(s, d).select("doc_id")
        graft.ops.DedupOps.duplicateClusters(pairs, docs, maxIter = 15)
          .groupBy("cluster").agg(count(lit(1)).as("n_docs"))
          .orderBy("cluster")
      },
      oracle = Some(clusterSizesOracle),
      doc = "duplicate clusters: iterative components vs recursive-CTE oracle (north-star)"),

    // --------------------------------------------------------------- q169
    // The dedup family's ARTIFACT pattern (round-9 verdict task 7):
    // q50/q55/q116/q117/q122 each re-derive neardupEdges from scratch —
    // correct for isolated gating, but production derives the verified
    // edge table ONCE, writes it partitioned, and every consumer reads
    // the artifact (the same write-once/read-many shape q88 gates for
    // facts). q169 is the write side: edges partitioned by a d1 bucket
    // (8-way — bounded file count here; date/scope partitions at
    // 100 TB), then read BACK in full and hash-matched against the
    // same-derivation oracle — the round trip proves the layout loses
    // nothing. The artifact is session-scoped and dataset-keyed
    // (edgeArtifact) so q170 can consume it in any driver order.
    "q169_dedup_edges_write" -> NamedQuery(
      fn = (s, d) => {
        val table = edgeArtifact(s, d, rebuild = true)
        s.read.parquet(table)
          .select("d1", "d2", "jacc")
          .orderBy("d1", "d2")
      },
      oracle = Some(neardupEdgesOracle),
      doc = "dedup artifact write side: verified edge table written partitioned once, full read-back hash-matched (write-once/read-many)"),

    // --------------------------------------------------------------- q170
    // The artifact's CONSUMER side: connected components computed from
    // the q169 edge TABLE (a parquet read — no re-tokenization, no
    // re-banding, no re-verification), hash-matched against the q55
    // recursive-CTE oracle. Together with q169 this is the production
    // split: derive+write once, then every graph consumer (components
    // here; triangles/PageRank/collapse in real pipelines) starts from
    // the compact artifact. Bench shows the point: q170's passes skip
    // the whole LSH pipeline q55 re-pays.
    "q170_dedup_components_read" -> NamedQuery(
      fn = (s, d) => {
        val pairs = s.read.parquet(edgeArtifact(s, d)).select("d1", "d2")
        val docs = Tables.documents(s, d).select("doc_id")
        graft.ops.DedupOps.duplicateClusters(pairs, docs, maxIter = 15)
          .groupBy("cluster").agg(count(lit(1)).as("n_docs"))
          .orderBy("cluster")
      },
      oracle = Some(clusterSizesOracle),
      doc = "dedup artifact consumer side: components from the written edge table (no re-derivation), vs recursive-CTE oracle"),

    // ---------------------------------------------------------------- q73
    // Incremental dedup — the continuous-ingest shape: a NEW batch
    // (doc_id % 10 == 9 stands in for today's crawl) is checked against
    // the existing corpus, never corpus-vs-corpus. Exact dups match on
    // the content fingerprint (one keyed join); near-dups go through
    // MinHash bands scoped by (lang, source) with the band join
    // restricted to new×old, then exact Jaccard ≥ 0.5 verifies only
    // those candidates. At 100 TB the corpus side is a bucketed/static
    // table and each day's batch streams through this exact plan.
    "q73_incremental_dedup" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        val scope = Seq("lang", "source")
        val docs = Tables.documents(s, d)
        val isNew = col("doc_id") % 10 === 9
        val fp = docs.select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
        val exact = fp.filter(isNew).select(col("doc_id"), col("fp"))
          .join(fp.filter(!isNew).select(col("doc_id").as("old_id"), col("fp")), Seq("fp"))
          .groupBy("doc_id").agg(min(col("old_id")).as("exact_match"))
        val toks = graft.ops.DedupOps.tokenSet(docs, "text", scope)
        graft.ops.CacheScope.withPersisted(toks) {
          val bands = graft.ops.DedupOps.bandHashes(toks, graft.ops.DedupOps.SignatureCount,
            graft.ops.DedupOps.RowsPerBand, scope)
          val joinCols = scope ++ Seq("band", "band_hash")
          val cand = bands.filter(isNew)
            .select((joinCols :+ "doc_id").map(col): _*).withColumnRenamed("doc_id", "d1")
            .join(bands.filter(!isNew)
              .select((joinCols :+ "doc_id").map(col): _*).withColumnRenamed("doc_id", "d2"),
              joinCols)
            .select("d1", "d2").distinct()
          val near = graft.ops.DedupOps.jaccardExploded(toks, cand)
            .filter(col("jacc") >= 0.5)
            .groupBy(col("d1").as("doc_id")).agg(min(col("d2")).as("near_match"))
          docs.filter(isNew).select("doc_id")
            .join(exact, Seq("doc_id"), "left")
            .join(near, Seq("doc_id"), "left")
            .withColumn("verdict",
              when(col("exact_match").isNotNull, "exact_dup")
                .when(col("near_match").isNotNull, "near_dup")
                .otherwise("unique"))
            .withColumn("match_id", coalesce(col("exact_match"), col("near_match"), lit(-1L)))
            .select("doc_id", "verdict", "match_id")
            .orderBy("doc_id")
        }
      },
      oracle = Some("""
        WITH fp AS (
          SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
        exact AS (
          SELECT n.doc_id, MIN(o.doc_id) AS exact_match
          FROM fp n JOIN fp o ON n.fp = o.fp
          WHERE n.doc_id % 10 = 9 AND o.doc_id % 10 <> 9
          GROUP BY n.doc_id),""" + minhashBandsSql + "," +
        bandOverlapSql("WHERE b1.doc_id % 10 = 9 AND b2.doc_id % 10 <> 9") + s""",
        near AS (
          SELECT d1 AS doc_id, MIN(d2) AS near_match$verifiedSql
          GROUP BY d1)
        SELECT d.doc_id,
               CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
                    WHEN nr.near_match IS NOT NULL THEN 'near_dup'
                    ELSE 'unique' END AS verdict,
               COALESCE(e.exact_match, nr.near_match, -1) AS match_id
        FROM documents d
        LEFT JOIN exact e ON d.doc_id = e.doc_id
        LEFT JOIN near nr ON d.doc_id = nr.doc_id
        WHERE d.doc_id % 10 = 9
        ORDER BY d.doc_id"""),
      doc = "incremental new-batch-vs-corpus dedup: exact + banded near-dup (north-star)"),

    // ---------------------------------------------------------------- q93
    // Corpus-overlap audit: pairwise 5-gram Jaccard between SOURCES —
    // the "how much does dataset A repeat dataset B" matrix read before
    // fixing a pretraining mixture. Everything is keyed on the gram
    // (distinct per source, then a self-join on gram whose fan-out is
    // bounded by (#sources choose 2) per gram — never all-pairs over
    // docs), so a 100 TB corpus costs two gram-keyed shuffles; the
    // per-source size/intersection tables are #sources²-small.
    "q93_source_overlap" -> NamedQuery(
      fn = (s, d) => {
        // the distinct gram set feeds three consumers (sizes + both join
        // sides) — scope-persist so the corpus is tokenized once, not
        // thrice (same pattern as q34's shingle set)
        val grams = Tables.documents(s, d)
          .select(col("source"), split(trim(col("text")), "\\s+").as("arr"))
          .filter(size(col("arr")) >= 5)
          .select(col("source"), explode(expr(
            "transform(sequence(1, size(arr) - 4), i -> concat_ws(' ', slice(arr, i, 5)))"))
            .as("gram"))
          // distinct keyed by gram ALONE (subset partitioning satisfies
          // the (source, gram) aggregate), so the persisted gram set is
          // cached in exactly the partitioning the self-join needs —
          // the join then reads both sides from cache with ZERO
          // exchange instead of re-shuffling the whole gram table
          // twice (guide §2.4). Per-gram fan-in is bounded by #sources.
          .repartition(col("gram"))
          .distinct()
        graft.ops.CacheScope.withPersisted(grams) {
          val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
          val inter = grams.as("a")
            .join(grams.as("b"), Seq("gram"))
            .filter(col("a.source") < col("b.source"))
            .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
            .agg(count(lit(1)).as("n_inter"))
          inter
            .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))), Seq("s1"))
            .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))), Seq("s2"))
            .select(col("s1"), col("s2"), col("n_inter"),
              (expr("(2 * 1000000 * n_inter + (n1 + n2 - n_inter)) div (2 * (n1 + n2 - n_inter))")
                .cast("double") / lit(1e6)).as("jaccard"))
            .orderBy("s1", "s2")
        }
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT source, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        grams AS (
          SELECT DISTINCT source, unnest(list_transform(range(1, len(arr) - 3),
                 i -> array_to_string(list_slice(arr, i, i + 4), ' '))) AS gram
          FROM arrs WHERE len(arr) >= 5),
        sizes AS (SELECT source, COUNT(*) AS n FROM grams GROUP BY source),
        inter AS (
          SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_inter
          FROM grams a JOIN grams b USING (gram)
          WHERE a.source < b.source
          GROUP BY 1, 2)
        SELECT s1, s2, CAST(n_inter AS BIGINT) AS n_inter,
               CAST((2 * 1000000 * n_inter + (z1.n + z2.n - n_inter)) // (2 * (z1.n + z2.n - n_inter)) AS DOUBLE) / 1e6 AS jaccard
        FROM inter
        JOIN sizes z1 ON z1.source = s1
        JOIN sizes z2 ON z2.source = s2
        ORDER BY s1, s2"""),
      doc = "pairwise source 5-gram Jaccard overlap matrix (north-star)"),

    // --------------------------------------------------------------- q116
    // Triangle census of the near-dup graph — with q55's components this
    // completes the graph mini-family: triangles measure how CLIQUE-LIKE
    // duplicate clusters are (a transitive corpus — A~B~C implies A~C —
    // closes its wedges; low closure flags chains of borderline matches
    // that a cluster-collapse would over-merge). Edges are the q50
    // verified pairs (d1 < d2), so each wedge a<b<c and each triangle is
    // counted exactly once via two vertex-keyed joins — the standard
    // ordered-edge formulation that scales to any |E| (per-vertex degree
    // d contributes d^2 wedge candidates; corpus near-dup degrees are
    // clique-bounded and tiny — a general graph would cap/split hub
    // degrees first).
    "q116_triangle_census" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        val e = graft.ops.DedupOps.neardupEdges(
            Tables.documents(s, d), "text", Seq("lang", "source"), 0.5)
          .select(col("d1").as("a"), col("d2").as("b"))
        // Wedge COUNT needs no wedge enumeration: each ordered wedge
        // a<b<c is one (in-edge, out-edge) pair meeting at its middle
        // vertex, so n_wedges = Σ_v in(v)·out(v) over two degree
        // aggregates — O(V) state instead of materializing Σd² rows.
        // (Near-dup cliques make that materialization explode: an
        // m-clique holds C(m,3) ordered wedges, and the first cut of
        // this query persisted them all — 30 s at sf0.1. Counting from
        // degrees is exact and clique-proof.)
        val din = e.groupBy(col("b").as("v")).agg(count(lit(1)).as("din"))
        val dout = e.groupBy(col("a").as("v")).agg(count(lit(1)).as("dout"))
        val wAgg = din.join(dout, "v")
          .agg(coalesce(sum(col("din") * col("dout")), lit(0L)).as("n_wedges"))
        // Triangles DO need the wedge stream, but it is never stored:
        // wedges pipe straight into a hash probe against the edge list.
        // NO broadcast hint: the edge count is data-dependent (a
        // duplicate-dense corpus has an unbounded near-dup edge set),
        // so forcing a broadcast is the one plan shape that can OOM the
        // driver at 100 TB. AQE sees the checkpointed edge frame's true
        // size at runtime and picks broadcast-hash when it is small
        // (the common case) or a shuffled join when it is not —
        // PlanAuditSpec pins that no mandatory broadcast hint exists on
        // this path.
        val wedges = e.select(col("a"), col("b"))
          .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
          .select("a", "b", "c")
        val triangles = wedges
          .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
        val eAgg = e.agg(count(lit(1)).as("n_edges"))
        val tAgg = triangles.agg(count(lit(1)).as("n_triangles"))
        eAgg.crossJoin(wAgg).crossJoin(tAgg)
          .withColumn("closure_rate",
            when(col("n_wedges") > 0,
              expr("(2 * 1000000 * n_triangles + n_wedges) div (2 * n_wedges)")
                .cast("double") / lit(1e6)).otherwise(0.0))
      },
      oracle = Some(s"""
        WITH $neardupSql,
        e AS (
          SELECT d1 AS a, d2 AS b$verifiedSql),
        w AS (
          SELECT e1.a, e1.b, e2.b AS c
          FROM e e1 JOIN e e2 ON e1.b = e2.a),
        t AS (
          SELECT w.a, w.b, w.c
          FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b)
        SELECT (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT COUNT(*) FROM w) AS n_wedges,
               (SELECT COUNT(*) FROM t) AS n_triangles,
               CASE WHEN (SELECT COUNT(*) FROM w) > 0
                    THEN CAST((2 * 1000000 * (SELECT COUNT(*) FROM t) + (SELECT COUNT(*) FROM w))
                              // (2 * (SELECT COUNT(*) FROM w)) AS DOUBLE) / 1e6
                    ELSE 0.0 END AS closure_rate"""),
      doc = "triangle census + wedge closure of the near-dup graph (graph family with q55)"),

    // --------------------------------------------------------------- q117
    // The dedup COLLAPSE — the op the whole family builds toward: every
    // duplicate cluster (q55's components) keeps ONE canonical document
    // (longest text; smallest doc_id on ties) and reports what it
    // absorbed. The keep-best pick is a packed-long max_by (q29's
    // fixed-width-buffer idiom — HashAggregate, no per-cluster sort);
    // singleton clusters are excluded so the output is the actionable
    // drop list. At 100 TB: components + one keyed agg + the map-side
    // pack — nothing beyond the q55 plan plus one aggregate.
    "q117_dedup_collapse" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        val docs = Tables.documents(s, d)
        val pairs = graft.ops.DedupOps.neardupEdges(
            docs, "text", Seq("lang", "source"), 0.5)
          .select("d1", "d2")
        val clusters = graft.ops.DedupOps.duplicateClusters(
          pairs, docs.select("doc_id"), maxIter = 15)
        // larger n_chars wins; ties resolve to the SMALLER doc_id
        // (subtracting doc_id keeps the key monotone in both)
        val pack = col("n_chars") * lit(10000000000L) - col("doc_id")
        clusters.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
          .withColumn("__pack", pack)
          .groupBy("cluster")
          .agg(
            count(lit(1)).as("n_docs"),
            max_by(col("doc_id"), col("__pack")).as("keep_doc"),
            max(col("n_chars")).as("keep_chars"))
          .filter(col("n_docs") > 1)
          .withColumn("n_dropped", col("n_docs") - 1L)
          .select("cluster", "n_docs", "keep_doc", "keep_chars", "n_dropped")
          .orderBy("cluster")
      },
      oracle = Some(s"""
        WITH RECURSIVE $neardupPairsSql,$componentsSql
        SELECT l.cluster, COUNT(*) AS n_docs,
               arg_max(d.doc_id, d.n_chars * 10000000000 - d.doc_id) AS keep_doc,
               MAX(d.n_chars) AS keep_chars,
               COUNT(*) - 1 AS n_dropped
        FROM labels l JOIN documents d USING (doc_id)
        GROUP BY l.cluster
        HAVING COUNT(*) > 1
        ORDER BY l.cluster"""),
      doc = "dedup collapse: canonical keeper per duplicate cluster + drop counts (north-star closer)"),

    // --------------------------------------------------------------- q121
    // Source-concentration audit: Gini coefficient of per-document char
    // budget within each (lang, source) — does a handful of giant docs
    // dominate a source's token budget? (Mixture planning wants flat
    // sources; q110's quotas assume the budget isn't owned by 3 docs.)
    // Exact integer math until the final division: y = length(text) is
    // BIGINT, rows ranked ascending per group (doc_id tie-break keeps
    // the rank sum deterministic; Σ i·y_i is tie-order-invariant anyway
    // since equal y share every permutation sum), then
    //   G = (2·Σ(i·y_i) − (n+1)·Σy) / (n·Σy)
    // rounded to 6 decimals. One shuffle (window + agg share the group
    // key); at 100 TB the per-group sort is Spark's rangeless window
    // sort within hash partitions — no global sort.
    "q121_gini_source_budget" -> NamedQuery(
      fn = (s, d) => {
        val byGrp = Window.partitionBy("lang", "source")
          .orderBy(col("y"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("lang"), col("source"), col("doc_id"),
            length(col("text")).cast("long").as("y"))
          .withColumn("i", row_number().over(byGrp).cast("long"))
          .groupBy("lang", "source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("y")).as("sum_chars"),
            sum(col("i") * col("y")).as("iy"))
          .withColumn("gini",
            when(col("sum_chars") > 0L,
              round((lit(2L) * col("iy") - (col("n_docs") + 1L) * col("sum_chars"))
                .cast("double") / (col("n_docs") * col("sum_chars")).cast("double"), 6)))
          .select("lang", "source", "n_docs", "sum_chars", "gini")
          .orderBy("lang", "source")
      },
      oracle = Some("""
        WITH y AS (
          SELECT lang, source, doc_id, CAST(length(text) AS BIGINT) AS y
          FROM documents),
        ranked AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY lang, source ORDER BY y, doc_id) AS BIGINT) AS i
          FROM y),
        g AS (
          SELECT lang, source, COUNT(*) AS n_docs,
                 SUM(y) AS sum_chars, SUM(i * y) AS iy
          FROM ranked GROUP BY lang, source)
        SELECT lang, source, n_docs, CAST(sum_chars AS BIGINT) AS sum_chars,
               CASE WHEN sum_chars > 0 THEN
                 round(CAST(2 * iy - (n_docs + 1) * sum_chars AS DOUBLE)
                       / CAST(n_docs * sum_chars AS DOUBLE), 6)
               END AS gini
        FROM g
        ORDER BY lang, source"""),
      doc = "Gini concentration of per-doc char budget by source (mixture-planning audit)"),

    // --------------------------------------------------------------- q122
    // Fixed-point PageRank over the near-dup graph (the same edges q55
    // clusters and q116 censuses): 3 unrolled Pregel-style rounds of
    //   r' = 0.15 + 0.85 * Σ_incoming(r / deg)
    // in SCALED-INTEGER arithmetic — ranks carry 1e9 fixed-point BIGINTs
    // and every division is a floor division, so Spark (`div`) and
    // DuckDB (`//`) agree bit-for-bit with no float accumulation order
    // anywhere. Each round is ONE keyed join (edges ⋈ ranks on src —
    // the edge frame is persisted once and reused all rounds) + ONE
    // keyed aggregate on dst: the iterative-graph pattern at scale,
    // bounded rounds by construction (cf. duplicateClusters' budget).
    // Overflow headroom: a node's in-sum is ≤ deg × 1e9 and 85× that
    // must fit a long, so deg ≤ ~1e8 — near-dup degrees are
    // clique-bounded far below that (a general web graph would cap or
    // rescale first).
    "q122_pagerank_neardup" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        val pairs = graft.ops.DedupOps.neardupEdges(
            Tables.documents(s, d), "text", Seq("lang", "source"), 0.5)
          .select("d1", "d2")
        // undirected graph as symmetric directed edges; deg per source.
        // pairs is already checkpoint-materialized by neardupEdges, so
        // both union branches and every iteration's join re-read compact
        // blocks — no persist needed, nothing left for a harness to clean
        val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
          .unionByName(pairs.select(col("d2").as("src"), col("d1").as("dst")))
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        val docs = Tables.documents(s, d).select("doc_id")
        var ranks = docs.withColumn("r", lit(1000000000L)) // 1.0 fixed-point
        for (_ <- 1 to 3) {
          val contrib = edges.join(deg, "src")
            .join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .select(col("dst"), expr("r div deg").as("c"))
            .groupBy("dst").agg(sum(col("c")).as("in_sum"))
          ranks = docs.join(contrib, docs("doc_id") === contrib("dst"), "left")
            .select(col("doc_id"),
              expr("CAST(150000000 AS BIGINT) + (85 * coalesce(in_sum, CAST(0 AS BIGINT))) div 100").as("r"))
        }
        ranks.join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("deg"), lit(0L)).as("deg"), col("r"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH $neardupPairsSql,$undirectedEdgesSql,
        deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        r0 AS (SELECT doc_id, CAST(1000000000 AS BIGINT) AS r FROM documents),
        i1 AS (
          SELECT d0.doc_id,
                 CAST(150000000 + (85 * COALESCE(s.in_sum, 0)) // 100 AS BIGINT) AS r
          FROM documents d0
          LEFT JOIN (
            SELECT e.dst AS doc_id, CAST(SUM(p.r // g.deg) AS BIGINT) AS in_sum
            FROM edges e
            JOIN r0 p ON p.doc_id = e.src
            JOIN deg g ON g.src = e.src
            GROUP BY e.dst) s USING (doc_id)),
        i2 AS (
          SELECT d0.doc_id,
                 CAST(150000000 + (85 * COALESCE(s.in_sum, 0)) // 100 AS BIGINT) AS r
          FROM documents d0
          LEFT JOIN (
            SELECT e.dst AS doc_id, CAST(SUM(p.r // g.deg) AS BIGINT) AS in_sum
            FROM edges e
            JOIN i1 p ON p.doc_id = e.src
            JOIN deg g ON g.src = e.src
            GROUP BY e.dst) s USING (doc_id)),
        i3 AS (
          SELECT d0.doc_id,
                 CAST(150000000 + (85 * COALESCE(s.in_sum, 0)) // 100 AS BIGINT) AS r
          FROM documents d0
          LEFT JOIN (
            SELECT e.dst AS doc_id, CAST(SUM(p.r // g.deg) AS BIGINT) AS in_sum
            FROM edges e
            JOIN i2 p ON p.doc_id = e.src
            JOIN deg g ON g.src = e.src
            GROUP BY e.dst) s USING (doc_id))
        SELECT d.doc_id, COALESCE(g.deg, 0) AS deg, i3.r
        FROM documents d
        LEFT JOIN deg g ON g.src = d.doc_id
        JOIN i3 ON i3.doc_id = d.doc_id
        ORDER BY d.doc_id"""),
      doc = "fixed-point PageRank, 3 Pregel rounds over the near-dup graph, engine-exact (graph family)"),

    // --------------------------------------------------------------- q139
    // Vocabulary growth curve — the diminishing-returns statistic a
    // data-curation loop reads before buying more of a source: how many
    // NEW distinct tokens each successive slice of the corpus
    // contributes. First-occurrence attribution (tok → min doc_id) is
    // one keyed aggregate — the 100 TB shape: the corpus-sized explode
    // reduces to vocab-sized state, and the running total runs over
    // per-source ingest-order buckets, not tokens. The window is
    // partitioned by source and its input is the bucket AGGREGATE
    // (n_docs/50 rows per source), never row-scale data.
    "q139_vocab_growth" -> NamedQuery(
      fn = (s, d) => {
        // bigram vocabulary, scoped per source: the synthetic corpus's
        // unigram vocab saturates in the first handful of docs (31
        // types), so the bigram space is where growth is measurable —
        // on real data the same program runs on any n-gram order
        val bi = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            split(trim(col("text")), "\\s+").as("arr"))
          .filter(size(col("arr")) >= 2)
          .select(col("source"), col("doc_id"), explode(expr(
            "transform(sequence(1, size(arr) - 1), i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))"))
            .as("bigram"))
        val first = bi.groupBy("source", "bigram").agg(min(col("doc_id")).as("first_doc"))
        val buckets = first
          .groupBy(col("source"), expr("first_doc div 50").as("bucket"))
          .agg(count(lit(1)).as("new_bigrams"))
        buckets
          .withColumn("cum_vocab",
            sum(col("new_bigrams")).over(
              Window.partitionBy("source").orderBy("bucket")
                .rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("source"), col("bucket"), col("new_bigrams"), col("cum_vocab"))
          .orderBy("source", "bucket")
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT source, doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        bi AS (
          SELECT source, doc_id,
                 unnest(list_transform(range(1, len(arr)),
                   i -> arr[i] || ' ' || arr[i + 1])) AS bigram
          FROM arrs WHERE len(arr) >= 2),
        first AS (
          SELECT source, bigram, MIN(doc_id) AS first_doc
          FROM bi GROUP BY source, bigram),
        b AS (
          SELECT source, first_doc // 50 AS bucket, COUNT(*) AS new_bigrams
          FROM first GROUP BY 1, 2)
        SELECT source, bucket, new_bigrams,
               CAST(SUM(new_bigrams) OVER (PARTITION BY source ORDER BY bucket
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
        FROM b
        ORDER BY source, bucket"""),
      doc = "bigram-vocabulary growth curve per source: new types per ingest bucket + running vocab size"),

    // --------------------------------------------------------------- q141
    // Contamination SPAN analysis — decontam v2. q66/q106 count shared
    // grams; what actually forces a document drop is a long CONSECUTIVE
    // run of eval-set grams (verbatim inclusion), not scattered hits.
    // Per train doc: gram positions flagged against the (broadcast)
    // eval gram set, runs found with the islands trick (pos −
    // row_number over flagged positions is constant within a run — no
    // self-join, one keyed window), then max/total per doc. Every stage
    // is keyed by doc_id; the eval side is the only broadcast and is
    // bounded by the eval corpus, exactly like q66.
    "q141_overlap_spans" -> NamedQuery(
      fn = (s, d) => {
        // 3-grams (not q66's 5-grams): span analysis needs enough hits
        // to chain into runs; the island logic is order-agnostic
        val arrs = Tables.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("arr"))
          .filter(size(col("arr")) >= 3)
        val grams = arrs.select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(1, size(arr) - 2), i -> concat_ws(' ', slice(arr, i, 3)))")))
          .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("gram"))
        val evalGrams = grams.filter(col("doc_id") % 97 === 0)
          .select("gram").distinct()
        val hits = grams.filter(col("doc_id") % 97 =!= 0)
          .join(broadcast(evalGrams), Seq("gram"))
          .select("doc_id", "i")
        val runs = hits.withColumn("grp",
          col("i") - row_number().over(Window.partitionBy("doc_id").orderBy("i")))
        runs.groupBy("doc_id", "grp").agg(count(lit(1)).as("run_len"))
          .groupBy("doc_id")
          .agg(max(col("run_len")).as("max_span"),
            sum(col("run_len")).as("n_contam_grams"),
            count(lit(1)).as("n_runs"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        pos AS (
          SELECT doc_id, arr, unnest(range(1, len(arr) - 1)) AS i
          FROM arrs WHERE len(arr) >= 3),
        grams AS (
          SELECT doc_id, CAST(i AS BIGINT) AS i,
                 array_to_string(list_slice(arr, i, i + 2), ' ') AS gram
          FROM pos),
        eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        hits AS (
          SELECT doc_id, i FROM grams JOIN eval_grams USING (gram)
          WHERE doc_id % 97 <> 0),
        runs AS (
          SELECT doc_id, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
          FROM hits),
        rl AS (
          SELECT doc_id, grp, COUNT(*) AS run_len FROM runs GROUP BY 1, 2)
        SELECT doc_id, MAX(run_len) AS max_span,
               CAST(SUM(run_len) AS BIGINT) AS n_contam_grams,
               COUNT(*) AS n_runs
        FROM rl
        GROUP BY doc_id
        ORDER BY doc_id"""),
      doc = "decontam v2: longest consecutive eval-gram run per train doc (islands, one keyed window)"),

    // --------------------------------------------------------------- q174
    // Corpus-INTERNAL exact-substring repetition (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better" —
    // the ExactSubstr statistic): q141 finds spans shared with an EVAL
    // set; this finds spans repeated anywhere in the corpus itself,
    // the memorization-risk stat that drives substring-level dedup.
    // Suffix-array-free formulation that distributes: every 5-gram
    // position, 5-grams occurring more than once anywhere (self OR
    // cross-doc) flag their positions, consecutive flagged positions
    // chain into maximal repeated spans via the islands trick. The
    // repeated-gram table is vocabulary-scale so it is NOT broadcast —
    // the position join is keyed on the gram; islands are one keyed
    // window per doc. span_toks = run_len + 4 (a run of k overlapping
    // 5-grams covers k+4 tokens).
    "q174_exact_substr" -> NamedQuery(
      fn = (s, d) => {
        val arrs = Tables.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("arr"))
          .filter(size(col("arr")) >= 5)
        val grams = arrs.select(col("doc_id"), size(col("arr")).as("n_toks"),
            posexplode(expr(
              "transform(sequence(1, size(arr) - 4), i -> concat_ws(' ', slice(arr, i, 5)))")))
          .select(col("doc_id"), col("n_toks"), (col("pos") + 1).as("i"), col("col").as("gram"))
        // repeated-gram flag as a WINDOW count instead of a groupBy
        // re-joined onto its own input: the join form tokenized and
        // exploded the corpus TWICE (no exchange reuse across the
        // renamed branches) and shuffled grams three times (agg + both
        // join sides); the window form explodes once and shuffles once,
        // keyed on the gram (guide §2.4). Same occ per row — grams are
        // never null (concat_ws over split tokens), so the inner join
        // dropped nothing the filter keeps.
        val hits = grams
          .withColumn("occ", count(lit(1)).over(Window.partitionBy("gram")))
          .filter(col("occ") > 1).select("doc_id", "n_toks", "i")
        val runs = hits.withColumn("grp",
            col("i") - row_number().over(Window.partitionBy("doc_id").orderBy("i")))
          .groupBy(col("doc_id"), col("n_toks"), col("grp"))
          .agg(count(lit(1)).as("run_len"))
        runs.groupBy("doc_id", "n_toks")
          .agg(count(lit(1)).as("n_runs"),
            (max(col("run_len")) + lit(4L)).as("max_span_toks"),
            sum(col("run_len")).as("n_rep_grams"))
          // integer/integer rational rounded in exact integer math
          // (PARITY rule 4 fix 2): round(double, 6) splits engines when
          // a/b lands on a decimal midpoint (q70 hit one at sf1)
          .withColumn("rep_frac",
            expr("(2 * 1000000 * n_rep_grams + (n_toks - 4)) div (2 * (n_toks - 4))")
              .cast("double") / lit(1e6))
          .select("doc_id", "n_runs", "max_span_toks", "n_rep_grams", "rep_frac")
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        pos AS (
          SELECT doc_id, len(arr) AS n_toks, arr, unnest(range(1, len(arr) - 3)) AS i
          FROM arrs WHERE len(arr) >= 5),
        grams AS (
          SELECT doc_id, n_toks, CAST(i AS BIGINT) AS i,
                 array_to_string(list_slice(arr, i, i + 4), ' ') AS gram
          FROM pos),
        repeated AS (
          SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1),
        hits AS (
          SELECT doc_id, n_toks, i FROM grams JOIN repeated USING (gram)),
        runs AS (
          SELECT doc_id, n_toks,
                 i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
          FROM hits),
        rl AS (
          SELECT doc_id, n_toks, grp, COUNT(*) AS run_len
          FROM runs GROUP BY 1, 2, 3)
        SELECT doc_id, COUNT(*) AS n_runs,
               MAX(run_len) + 4 AS max_span_toks,
               CAST(SUM(run_len) AS BIGINT) AS n_rep_grams,
               CAST((2 * 1000000 * SUM(run_len) + (n_toks - 4)) // (2 * (n_toks - 4)) AS DOUBLE) / 1e6 AS rep_frac
        FROM rl
        GROUP BY doc_id, n_toks
        ORDER BY doc_id"""),
      doc = "ExactSubstr repetition: maximal repeated 5-gram spans anywhere in the corpus per doc (memorization-risk stat)"),

    // --------------------------------------------------------------- q143
    // Zipf power-law fit per source — the corpus-health statistic (a
    // natural corpus has slope ≈ −1; template/boilerplate-heavy sources
    // flatten or steepen it): least-squares of ln(freq) on ln(rank)
    // over each source's frequency-ranked vocabulary. Cross-engine
    // co-moment parity is the craft here (q58's correlations punted on
    // it — sums of double products are partition-order dependent): every
    // transcendental is rounded to 6 decimals FIRST, products of those
    // rounded doubles are exact IEEE ops (identical everywhere), rounded
    // again, and all four sums run exact at scale 6 (the oracle's
    // DECIMAL(18,6); exactSum) — exact and
    // order-independent — so the final slope arithmetic consumes
    // identical inputs on any engine and any partitioning. Scale: one
    // corpus-sized keyed agg to (source, tok), a per-source window
    // (keyed), then source-grain math — nothing global.
    "q143_zipf_fit" -> NamedQuery(
      fn = (s, d) => {
        val cnt = Tables.documents(s, d)
          .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
        val xy = cnt
          .withColumn("rnk", row_number().over(
            Window.partitionBy("source").orderBy(col("cnt").desc, col("tok").asc)))
          .select(col("source"),
            round(log(col("rnk").cast("double")), 6).as("x"),
            round(log(col("cnt").cast("double")), 6).as("y"))
          .select(col("source"), col("x"), col("y"),
            round(col("x") * col("x"), 6).as("xx"),
            round(col("x") * col("y"), 6).as("xys"))
        val agg = xy.groupBy("source").agg(
          count(lit(1)).cast("double").as("n"),
          exactSum(col("x"), 6).as("sx"),
          exactSum(col("y"), 6).as("sy"),
          exactSum(col("xx"), 6).as("sxx"),
          exactSum(col("xys"), 6).as("sxy"))
        val den = col("n") * col("sxx") - col("sx") * col("sx")
        val slopeRaw = (col("n") * col("sxy") - col("sx") * col("sy")) / den
        agg.select(col("source"),
            col("n").cast("long").as("n_types"),
            when(den =!= 0.0, round(slopeRaw, 6)).as("slope"),
            when(den =!= 0.0,
              round((col("sy") - slopeRaw * col("sx")) / col("n"), 6)).as("intercept"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH cnt AS (
          SELECT source, tok, COUNT(*) AS cnt
          FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents)
          GROUP BY source, tok),
        xy AS (
          SELECT source,
                 round(ln(CAST(row_number() OVER (PARTITION BY source
                   ORDER BY cnt DESC, tok ASC) AS DOUBLE)), 6) AS x,
                 round(ln(CAST(cnt AS DOUBLE)), 6) AS y
          FROM cnt),
        xy2 AS (
          SELECT source, x, y, round(x * x, 6) AS xx, round(x * y, 6) AS xys
          FROM xy),
        agg AS (
          SELECT source,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(xx AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(xys AS DECIMAL(18,6))) AS DOUBLE) AS sxy
          FROM xy2 GROUP BY source)
        SELECT source, CAST(n AS BIGINT) AS n_types,
               CASE WHEN n * sxx - sx * sx <> 0
                 THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
               CASE WHEN n * sxx - sx * sx <> 0
                 THEN round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) END
                 AS intercept
        FROM agg
        ORDER BY source"""),
      doc = "Zipf slope/intercept per source: rounded-then-decimal co-moments, order-independent parity"),

    // --------------------------------------------------------------- q146
    // Per-source KL divergence from the corpus unigram distribution —
    // the domain-drift statistic a mixture designer reads next to q143's
    // Zipf slope: KL(P_source ‖ P_corpus) over tokens present in the
    // source (P > 0 everywhere it is evaluated; Q > 0 always since the
    // corpus contains the source). Parity craft per the q143 recipe:
    // probability ratios are pure IEEE division trees mirrored exactly
    // (never pre-multiplied integers, which would overflow at corpus
    // scale), ln is rounded to 6 before the product, the p·ln term is
    // rounded again, and the per-source sum runs exact at scale 6 —
    // exact and order-independent. Scale: two corpus-sized keyed aggs
    // (source×tok, tok), one vocab-sized join on tok, broadcast totals;
    // nothing global, nothing quadratic.
    "q146_kl_drift" -> NamedQuery(
      fn = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        val sc = toks.groupBy("source", "tok").agg(count(lit(1)).as("cnt_s"))
        val cc = toks.groupBy("tok").agg(count(lit(1)).as("cnt_all"))
        val tots = sc.groupBy("source").agg(sum(col("cnt_s")).as("tot_s"))
        val totAll = cc.agg(sum(col("cnt_all")).as("tot_all"))
        val terms = sc.join(cc, Seq("tok"))
          .join(broadcast(tots), Seq("source"))
          .crossJoin(broadcast(totAll))
          .withColumn("p", col("cnt_s").cast("double") / col("tot_s"))
          .withColumn("lnr", round(log(
            (col("cnt_s").cast("double") / col("tot_s")) /
            (col("cnt_all").cast("double") / col("tot_all"))), 6))
          .withColumn("term", round(col("p") * col("lnr"), 6))
        terms.groupBy("source").agg(
            count(lit(1)).as("n_types"),
            max(col("tot_s")).as("src_toks"),
            round(exactSum(col("term"), 6), 6).as("kl_nats"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        sc AS (SELECT source, tok, COUNT(*) AS cnt_s FROM toks GROUP BY 1, 2),
        cc AS (SELECT tok, COUNT(*) AS cnt_all FROM toks GROUP BY 1),
        tots AS (SELECT source, CAST(SUM(cnt_s) AS BIGINT) AS tot_s FROM sc GROUP BY 1),
        tot_all AS (SELECT CAST(SUM(cnt_all) AS BIGINT) AS tot_all FROM cc),
        terms AS (
          SELECT s.source, t.tot_s,
                 CAST(s.cnt_s AS DOUBLE) / t.tot_s AS p,
                 round(ln((CAST(s.cnt_s AS DOUBLE) / t.tot_s)
                        / (CAST(c.cnt_all AS DOUBLE) / a.tot_all)), 6) AS lnr
          FROM sc s
          JOIN cc c USING (tok)
          JOIN tots t USING (source)
          CROSS JOIN tot_all a),
        t2 AS (SELECT source, tot_s, round(p * lnr, 6) AS term FROM terms)
        SELECT source, COUNT(*) AS n_types, MAX(tot_s) AS src_toks,
               round(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6) AS kl_nats
        FROM t2
        GROUP BY source
        ORDER BY source"""),
      doc = "per-source KL divergence from the corpus unigram distribution (domain-drift audit)"),

    // --------------------------------------------------------------- q152
    // BM25 retrieval top-k — the lexical ranking function every RAG
    // retrieval stack still runs next to its embedding index (q37/q40
    // are the dense side; this is the sparse side). Okapi BM25 with
    // k1=1.2, b=0.75; the "query" is data-derived and deterministic:
    // the corpus's 3 highest-df terms (ties to token asc). Parity per
    // the Registry recipe: ln(idf) rounds to 6, the tf/length
    // normalization is a pure IEEE division tree mirrored literally,
    // per-term scores round again, and the per-doc sum runs exact at
    // scale 6. Ranking is the native partial top-k (k-sized
    // buffers, payload tie-break = doc_id) with posexplode emitting the
    // rank. Scale: postings and lengths are keyed corpus aggs; query
    // terms and the 1-row corpus stats broadcast; the final shuffle is
    // ONE k-row partial per partition — never a corpus sort.
    "q152_bm25_topk" -> NamedQuery(
      fn = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val len = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
        val stats = len.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("tot_len"))
        val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val qterms = dfq.orderBy(col("df").desc, col("tok").asc).limit(3)
        val terms = tf.join(broadcast(qterms), Seq("tok"))
          .join(len, Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("avglen", col("tot_len").cast("double") / col("n_docs"))
          .withColumn("idf", round(log(
            (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 6))
          .withColumn("tfc", (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("len").cast("double") / col("avglen")))))
          .withColumn("term", round(col("idf") * col("tfc"), 6))
        terms.groupBy("doc_id")
          .agg(exactSum(col("term"), 6).as("score"))
          .agg(expr("top_k_pairs(score, doc_id, 20)").as("topk"))
          .select(posexplode(col("topk")).as(Seq("pos", "p")))
          .select((col("pos") + 1).cast("long").as("rnk"),
            col("p.payload").as("doc_id"), round(col("p.score"), 6).as("bm25"))
          .orderBy("rnk")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        len AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS tot_len FROM len),
        dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        qterms AS (SELECT tok, df FROM dfq ORDER BY df DESC, tok ASC LIMIT 3),
        terms AS (
          SELECT t.doc_id,
                 round(round(ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0), 6)
                       * ((t.tf * 2.2)
                          / (t.tf + 1.2 * (0.25 + 0.75
                             * (l.len / (CAST(s.tot_len AS DOUBLE) / s.n_docs))))), 6) AS term
          FROM tf t
          JOIN qterms q USING (tok)
          JOIN len l USING (doc_id)
          CROSS JOIN stats s),
        scores AS (
          SELECT doc_id, CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS score
          FROM terms GROUP BY doc_id)
        SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, round(score, 6) AS bm25
        FROM (SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
              FROM scores)
        WHERE rnk <= 20
        ORDER BY rnk"""),
      doc = "Okapi BM25 top-20 for the corpus's 3 highest-df terms: sparse retrieval beside the dense ANN path"),

    // --------------------------------------------------------------- q171
    // Hybrid retrieval fusion — Reciprocal Rank Fusion (Cormack et al.
    // 2009, the fusion every BM25+dense RAG stack ships): for each
    // probe document, a LEXICAL ranking (BM25 of the probe's tokens
    // against the candidate corpus — q152's scoring recipe) and a DENSE
    // ranking (embedding cosine — q37/q40's recipe, vec_id keys
    // doc_id's embedding) are fused as rrf = Σ 1/(60 + rank), top-5
    // per probe. Each leg is CUT AT RANK 100 (round 14 — the standard
    // RRF-over-top-k contract; Cormack et al. fuse bounded runs): an
    // uncut dense leg ranks the WHOLE corpus per probe, which made the
    // fusion input N×200 rows and q171 the slowest query in the catalog
    // (134.8 s at sf10, decade-2 exp 1.21, with an sf0.1 > sf1
    // inversion from the full-vocab tf checkpoint). Every piece is now
    // keyed AND bounded: probes are a fixed 200-id sample (broadcast —
    // the q144/q145 audit pattern); the dense leg's corpus pass
    // partial-aggregates into 100-slot top_k_pairs buffers (shuffle =
    // 200×100 rows, never a corpus-wide rank); the lexical leg
    // restricts the (doc, tok) aggregate to PROBE tokens before
    // grouping (df per token is unchanged by the restriction — every
    // doc containing the token survives it), so the old full-vocab
    // tf/dfq frames and their localCheckpoint are gone; doc lengths
    // come from size(split(…)) — identical to the exploded count —
    // without a second tokenize pass. Parity: ln/idf and cosine round
    // to 6 (Registry recipe), ranks are ints, rrf is the same exact
    // integer rational on both engines, tie-breaks pinned to the
    // candidate id.
    "q171_rrf_fusion" -> NamedQuery(
      fn = (s, d) => {
        val vecs = Tables.embeddings(s, d)
          .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))
        // candidate universe: documents that HAVE an embedding
        val cands = Tables.documents(s, d)
          .join(vecs.select(col("vec_id").as("doc_id")), Seq("doc_id"))
        val probes = vecs.orderBy(md5(col("vec_id").cast("string"))).limit(200)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"), col("nrm").as("p_nrm"))
        // dense leg: per-probe top-100 by rounded cosine — the narrow
        // (probe_id, cos, vec_id) projection keeps embeddings out of
        // the aggregation's shuffle, and top_k_pairs' k-slot partial
        // buffers replace the corpus-wide row_number sort
        val dense = vecs.crossJoin(broadcast(probes))
          .select(col("probe_id"),
            round(expr("vec_dot(embedding, p_emb)") / (col("nrm") * col("p_nrm")), 6).as("cos"),
            col("vec_id"))
          .groupBy("probe_id")
          .agg(expr("top_k_pairs(cos, vec_id, 100)").as("topk"))
          .select(col("probe_id"), posexplode(col("topk")).as(Seq("pos", "p")))
          .select(col("probe_id"), col("p.payload").as("doc_id"),
            (col("pos") + 1).cast("int").as("r_dense"))
        // lexical leg: probe docs' distinct tokens as the queries (200
        // bounded texts — the only rows tokenized twice)
        val ptoks = cands
          .join(broadcast(probes.select(col("probe_id").as("doc_id"))), Seq("doc_id"))
          .select(col("doc_id").as("probe_id"),
            explode(split(trim(col("text")), "\\s+")).as("tok"))
          .distinct()
        val ptokSet = ptoks.select("tok").distinct()
        // (doc, tok) term frequencies RESTRICTED to probe tokens before
        // the group-by: the broadcast semi-filter runs inside the
        // tokenize stage, so only probe-token occurrences reach the
        // shuffle — df for those tokens is exact (see header note)
        val tf = cands
          .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
          .join(broadcast(ptokSet), Seq("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        // doc lengths without a second explode: one row per candidate,
        // size(split) ≡ the exploded token count (null texts tokenize
        // to no rows, so they are excluded on both engines)
        val len = cands.filter(col("text").isNotNull)
          .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("len"))
        val stats = len.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("tot_len"))
        // maxDocFreq pruning (the Lucene CommonTermsQuery posture): query
        // terms in more than 1/10 of the docs are dropped BEFORE the
        // postings×probes fan-out. Without it, a stopword-class token
        // (df ≈ N) fans out |docs-with-token| × |probes-sharing-it| rows —
        // measured 7.2M terms rows at sf0.1 (and the sf0.1 > sf1
        // inversion: the scaledata's per-replica token salt split the
        // probe set across 10 disjoint token spaces, hiding at sf1 what
        // the unsalted base corpus pays in full). Integer-exact
        // (df * 10 <= n_docs) so both engines cut identically.
        val dfqRare = dfq.crossJoin(broadcast(stats.select("n_docs")))
          .filter(col("df") * lit(10) <= col("n_docs"))
          .select("tok", "df")
        val terms = tf
          .join(broadcast(dfqRare), Seq("tok"))
          .join(broadcast(ptoks), Seq("tok"))
          .join(len, Seq("doc_id"))
          .crossJoin(broadcast(stats))
          .withColumn("avglen", col("tot_len").cast("double") / col("n_docs"))
          .withColumn("idf", round(log(
            (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 6))
          .withColumn("tfc", (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("len").cast("double") / col("avglen")))))
          .withColumn("term", round(col("idf") * col("tfc"), 6))
        val lex = terms.groupBy("probe_id", "doc_id")
          .agg(exactSum(col("term"), 6).as("bm25"))
          .groupBy("probe_id")
          .agg(expr("top_k_pairs(bm25, doc_id, 100)").as("topk"))
          .select(col("probe_id"), posexplode(col("topk")).as(Seq("pos", "p")))
          .select(col("probe_id"), col("p.payload").as("doc_id"),
            (col("pos") + 1).cast("int").as("r_lex"))
        // fuse: a doc absent from one leg contributes 0 from it
        // rrf as ONE exact rational per row ((b1+b2)/(b1*b2), or 1/b for a
        // single leg), rounded half-away in integer math (PARITY rule 4
        // fix 2 — round(double, 6) splits engines on decimal
        // micro-midpoints; rank-sum denominators are small integers)
        val fused = dense.join(lex, Seq("probe_id", "doc_id"), "full_outer")
          .withColumn("b1", col("r_dense").cast("long") + 60L)
          .withColumn("b2", col("r_lex").cast("long") + 60L)
          .withColumn("num",
            when(col("b1").isNotNull && col("b2").isNotNull, col("b1") + col("b2"))
              .otherwise(lit(1L)))
          .withColumn("den",
            when(col("b1").isNotNull && col("b2").isNotNull, col("b1") * col("b2"))
              .otherwise(coalesce(col("b1"), col("b2"))))
          .withColumn("rrf",
            expr("(2 * 1000000 * num + den) div (2 * den)").cast("double") / lit(1e6))
          .drop("b1", "b2", "num", "den")
        graft.ops.RelationalOps.topKPerGroup(
            Seq("probe_id"), Seq(col("rrf").desc, col("doc_id").asc), 5)(fused)
          .withColumn("rnk", row_number().over(
            Window.partitionBy("probe_id").orderBy(col("rrf").desc, col("doc_id").asc)).cast("long"))
          .select("probe_id", "rnk", "doc_id", "rrf")
          .orderBy("probe_id", "rnk")
      },
      oracle = Some("""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
          FROM embeddings),
        probes AS (SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
                   FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 200),
        dense AS (
          SELECT probe_id, doc_id, r_dense FROM (
            SELECT probe_id, vec_id AS doc_id,
                   row_number() OVER (PARTITION BY probe_id ORDER BY
                     round(list_dot_product(emb, p_emb) / (nrm * p_nrm), 6) DESC,
                     vec_id ASC) AS r_dense
            FROM v CROSS JOIN probes)
          WHERE r_dense <= 100),
        cands AS (
          SELECT d.doc_id, d.text FROM documents d JOIN v ON v.vec_id = d.doc_id),
        toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM cands),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        len AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
        stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS tot_len FROM len),
        dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        ptoks AS (
          SELECT DISTINCT t.doc_id AS probe_id, t.tok
          FROM toks t JOIN probes p ON p.probe_id = t.doc_id),
        terms AS (
          SELECT q.probe_id, t.doc_id,
                 round(round(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0), 6)
                       * ((t.tf * 2.2)
                          / (t.tf + 1.2 * (0.25 + 0.75
                             * (l.len / (CAST(s.tot_len AS DOUBLE) / s.n_docs))))), 6) AS term
          FROM tf t
          JOIN ptoks q USING (tok)
          JOIN dfq f USING (tok)
          JOIN len l USING (doc_id)
          CROSS JOIN stats s
          WHERE f.df * 10 <= s.n_docs),
        lex AS (
          SELECT probe_id, doc_id, r_lex FROM (
            SELECT probe_id, doc_id,
                   row_number() OVER (PARTITION BY probe_id ORDER BY
                     CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) DESC, doc_id ASC) AS r_lex
            FROM (SELECT probe_id, doc_id, term FROM terms)
            GROUP BY probe_id, doc_id)
          WHERE r_lex <= 100),
        fused AS (
          SELECT COALESCE(d.probe_id, x.probe_id) AS probe_id,
                 COALESCE(d.doc_id, x.doc_id) AS doc_id,
                 CAST((2 * 1000000 * (CASE WHEN d.r_dense IS NOT NULL AND x.r_lex IS NOT NULL
                                            THEN (60 + d.r_dense) + (60 + x.r_lex) ELSE 1 END)
                       + (CASE WHEN d.r_dense IS NOT NULL AND x.r_lex IS NOT NULL
                               THEN (60 + d.r_dense) * (60 + x.r_lex)
                               ELSE COALESCE(60 + d.r_dense, 60 + x.r_lex) END))
                      // (2 * (CASE WHEN d.r_dense IS NOT NULL AND x.r_lex IS NOT NULL
                                  THEN (60 + d.r_dense) * (60 + x.r_lex)
                                  ELSE COALESCE(60 + d.r_dense, 60 + x.r_lex) END)) AS DOUBLE) / 1e6 AS rrf
          FROM dense d FULL OUTER JOIN lex x
            ON d.probe_id = x.probe_id AND d.doc_id = x.doc_id)
        SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf
        FROM (SELECT probe_id, doc_id, rrf,
                     row_number() OVER (PARTITION BY probe_id
                       ORDER BY rrf DESC, doc_id ASC) AS rnk
              FROM fused)
        WHERE rnk <= 5
        ORDER BY probe_id, rnk"""),
      doc = "hybrid retrieval: RRF fusion of BM25 (lexical) and cosine (dense) top-100 runs, top-5 per probe (RAG retrieval stack)"),

    // --------------------------------------------------------------- q177
    // Tokenizer-coverage / OOV-rate audit (north-star): per-doc fraction
    // of token OCCURRENCES outside the corpus top-16 vocabulary — the
    // metric that decides whether a tokenizer's vocab budget fits a new
    // corpus slice before committing a training run. Two stages, both
    // keyed on `tok`: an exact frequency aggregation whose top-k is a
    // TakeOrderedAndProject (no global sort), then a BROADCAST left
    // join of the k-row vocab back onto the token stream — the 100 TB
    // shape, since the vocab side is bounded by construction. Boundary
    // ties at rank k are pinned by the (n DESC, tok ASC) total order on
    // both sides.
    "q177_oov_rate" -> NamedQuery(
      fn = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc).limit(16)
          .select(col("tok"), lit(1).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate",
            expr("(2 * 1000000 * n_oov + n_tokens) div (2 * n_tokens)")
              .cast("double") / lit(1e6))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
            ORDER BY n DESC, tok ASC LIMIT 16)),
        j AS (
          SELECT t.doc_id, v.tok AS vtok
          FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(COUNT(*) FILTER (vtok IS NULL) AS BIGINT) AS n_oov,
               CAST((2 * 1000000 * COUNT(*) FILTER (vtok IS NULL) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1e6 AS oov_rate
        FROM j GROUP BY doc_id ORDER BY doc_id"""),
      doc = "tokenizer-coverage audit: per-doc OOV occurrence rate vs the corpus top-k vocabulary, broadcast vocab join (north-star)"),

    // --------------------------------------------------------------- q184
    // Skyline / pareto frontier (Börzsönyi et al.'s skyline operator),
    // per (lang, source): the docs not dominated on (token count,
    // distinct-token count) — the "best representative documents"
    // primitive for corpus browsing and per-slice exemplar picking.
    // Window form, no self-join: sort each scope by x desc; a doc is
    // skyline iff y beats max(y) over STRICTLY-larger x (integer x, so
    // the RANGE frame ending at 1 PRECEDING is exactly strictness) and
    // y is the max within its own x (equal-(x,y) rows all stay —
    // neither dominates). Both windows are scope-keyed — O(n log n)
    // per scope, vs the O(n²) dominance self-join a naive port writes.
    "q184_skyline" -> NamedQuery(
      fn = (s, d) => {
        val m = Tables.documents(s, d)
          .withColumn("toks", split(trim(col("text")), "\\s+"))
          .select(col("doc_id"), col("lang"), col("source"),
            size(col("toks")).cast("long").as("x"),
            size(array_distinct(col("toks"))).cast("long").as("y"))
        graft.ops.SweepOps.skyline2D(m, Seq("lang", "source"), "x", "y")
          .select("lang", "source", "doc_id", "x", "y")
          .orderBy(col("lang"), col("source"), col("x").desc, col("doc_id"))
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id, lang, source,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS x,
                 CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS y
          FROM documents),
        w AS (
          SELECT *,
                 max(y) OVER (PARTITION BY lang, source ORDER BY x DESC
                              RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
                 max(y) OVER (PARTITION BY lang, source, x) AS xmax
          FROM m)
        SELECT lang, source, doc_id, x, y
        FROM w
        WHERE (pmax IS NULL OR y > pmax) AND y = xmax
        ORDER BY lang, source, x DESC, doc_id"""),
      doc = "skyline operator: per-scope pareto frontier on (tokens, distinct tokens), window form without the dominance self-join (DB-classic extension)"),

    // --------------------------------------------------------------- q187
    // ExactSubstr REMOVAL (the action to q174's statistic — Lee et al.
    // 2022 rewrite their corpus by cutting repeated substrings; this is
    // that rewrite as a relational program): every token position
    // covered by any corpus-wide repeated 5-gram is dropped, the doc is
    // reassembled from the surviving tokens in order, and the output
    // carries the rewritten text's md5 — gate-able content identity
    // without shipping the text. Shapes: gram-keyed join for hits
    // (vocabulary-scale table, NOT broadcast), a bounded 5-way position
    // explode for coverage, doc-keyed anti-join for survivors, and an
    // order-pinned rebuild (sort_array over (pos, tok) structs — a
    // collect_list alone has NO deterministic order under parallel
    // merge). Docs shorter than 5 tokens pass through untouched.
    "q187_exact_substr_removal" -> NamedQuery(
      fn = (s, d) => {
        val arrs = Tables.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("arr"))
        val grams = arrs.filter(size(col("arr")) >= 5)
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(1, size(arr) - 4), i -> concat_ws(' ', slice(arr, i, 5)))")))
          .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("gram"))
        val repeated = grams.groupBy("gram").agg(count(lit(1)).as("occ"))
          .filter(col("occ") > 1).select("gram")
        val covered = grams.join(repeated, Seq("gram"))
          .select(col("doc_id"), explode(expr("sequence(i, i + 4)")).as("j"))
          .distinct()
        val toks = arrs
          .select(col("doc_id"), size(col("arr")).cast("long").as("n_toks"),
            posexplode(col("arr")))
          .select(col("doc_id"), col("n_toks"), (col("pos") + 1).as("j"), col("col").as("tok"))
        val rebuilt = toks.join(covered, Seq("doc_id", "j"), "left_anti")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            concat_ws(" ", expr("transform(sort_array(collect_list(struct(j, tok))), x -> x.tok)"))
              .as("kept_text"))
        arrs.select(col("doc_id"), size(col("arr")).cast("long").as("n_toks"))
          .join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_toks"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            md5(coalesce(col("kept_text"), lit(""))).as("kept_md5"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH arrs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        grams AS (
          SELECT doc_id, CAST(i AS BIGINT) AS i,
                 array_to_string(list_slice(arr, i, i + 4), ' ') AS gram
          FROM (SELECT doc_id, arr, unnest(range(1, len(arr) - 3)) AS i
                FROM arrs WHERE len(arr) >= 5)),
        repeated AS (
          SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) > 1),
        covered AS (
          SELECT DISTINCT doc_id, i + k AS j
          FROM (SELECT doc_id, i FROM grams JOIN repeated USING (gram))
               CROSS JOIN generate_series(0, 4) t(k)),
        toks AS (
          SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_toks,
                 CAST(j AS BIGINT) AS j, arr[j] AS tok
          FROM arrs CROSS JOIN LATERAL unnest(range(1, len(arr) + 1)) AS u(j)),
        kept AS (
          SELECT t.doc_id,
                 COUNT(*) AS n_kept,
                 string_agg(t.tok, ' ' ORDER BY t.j) AS kept_text
          FROM toks t LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.j = t.j
          WHERE c.j IS NULL
          GROUP BY t.doc_id)
        SELECT a.doc_id, CAST(len(a.arr) AS BIGINT) AS n_toks,
               COALESCE(k.n_kept, 0) AS n_kept,
               md5(COALESCE(k.kept_text, '')) AS kept_md5
        FROM arrs a LEFT JOIN kept k ON a.doc_id = k.doc_id
        ORDER BY a.doc_id"""),
      doc = "ExactSubstr removal: rewrite docs dropping every token inside a corpus-wide repeated 5-gram span, order-pinned rebuild with content-identity md5 (north-star)")
  )
}
