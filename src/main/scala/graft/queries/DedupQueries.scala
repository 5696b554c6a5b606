package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.expr.ExactSums
import graft.ops.{DedupOps, RelationalOps}

/** Deduplication operators over `documents` (builder-prompt north-star):
  * exact (hash-groupBy), n-gram-shingle Jaccard, MinHash+LSH banding,
  * SimHash. All hashes are md5 (identical in Spark and DuckDB), so every
  * query is oracle-checkable; Jaccard arithmetic is exact integer-count
  * division — no float drift at all.
  *
  * Scale posture: shingling/minhashing fan out rows by tokens-per-doc
  * (bounded), every aggregation keys on doc_id (high-cardinality, even
  * partitions), and candidate generation is LSH-bucket-join — never an
  * all-pairs crossJoin. That is the 100 TB path: all-pairs appears only
  * inside same-(lang,source) buckets in q34, the demonstration variant.
  */
object DedupQueries extends QueryModule {

  /** Distinct (doc_id, token) pairs — the unigram set per document.
    * doc_id is unique → per-row array_distinct replaces a global
    * distinct shuffle (see DedupOps.tokenSet).
    */
  private def docTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tok"))

  // The DuckDB side of DedupOps.neardupEdges, written once for every
  // oracle of the near-dup family. No fragment carries WITH, so a caller
  // opens with WITH or WITH RECURSIVE, or appends them to its own CTEs.

  /** `toks` (the (lang, source)-scoped unigram set), `sig` (k = 8
    * signatures, DedupOps' double hash mod 2^61 − 1) and `bands`
    * (`DedupOps.RowsPerBand` = 2 signatures per band).
    */
  private[queries] val minhashBandsSql = """
        toks AS (
          SELECT DISTINCT doc_id, lang, source,
                 unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        sig AS (
          SELECT doc_id, lang, source, seed,
                 min((CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
                   + seed * CAST('0x' || substr(md5(tok), 17, 15) AS BIGINT)) % 2305843009213693951) AS mh
          FROM toks CROSS JOIN generate_series(0, 7) s(seed)
          GROUP BY 1, 2, 3, 4),
        bands AS (
          SELECT doc_id, lang, source, seed // 2 AS band,
                 md5(CAST(min(mh) AS VARCHAR) || '#' || CAST(max(mh) AS VARCHAR)) AS band_hash
          FROM sig
          GROUP BY doc_id, lang, source, seed // 2)"""

  /** `candidates` (same-scope band collisions kept by `pairFilter`, a
    * trailing join conjunct or a WHERE clause), token-set `sizes` and
    * candidate intersections `inter` (d1, d2, cnt).
    */
  private[queries] def bandOverlapSql(pairFilter: String): String = s"""
        candidates AS (
          SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
          FROM bands b1 JOIN bands b2
            ON b1.lang = b2.lang AND b1.source = b2.source
           AND b1.band = b2.band AND b1.band_hash = b2.band_hash
          $pairFilter),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
        inter AS (
          SELECT c.d1, c.d2, COUNT(*) AS cnt
          FROM candidates c
          JOIN toks t1 ON t1.doc_id = c.d1
          JOIN toks t2 ON t2.doc_id = c.d2 AND t2.tok = t1.tok
          GROUP BY 1, 2)"""

  /** An `inter` row's exact Jaccard, rounded half-away to 6 decimals in
    * integer math (DedupOps.jaccardExploded's `jacc`).
    */
  private[queries] val interJaccSql =
    "CAST((2 * 1000000 * cnt + (n1.n + n2.n - cnt)) // (2 * (n1.n + n2.n - cnt)) AS DOUBLE) / 1e6"

  /** FROM and WHERE of the verified pairs: `inter` at Jaccard >= 0.5. */
  private[queries] val verifiedSql = s"""
        FROM inter
        JOIN sizes n1 ON d1 = n1.doc_id
        JOIN sizes n2 ON d2 = n2.doc_id
        WHERE $interJaccSql >= 0.5"""

  /** neardupEdges' candidates (every collision with d1 < d2) up to `inter`. */
  private[queries] val neardupSql = minhashBandsSql + "," + bandOverlapSql("AND b1.doc_id < b2.doc_id")

  /** `neardupSql` plus `pairs` (d1, d2), the verified edges. */
  private[queries] val neardupPairsSql = s"""$neardupSql,
        pairs AS (
          SELECT d1, d2$verifiedSql)"""

  /** `edges` (src, dst): every `pairs` row (d1, d2) in both directions. */
  private[queries] val undirectedEdgesSql = """
        edges AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION ALL
          SELECT d2, d1 FROM pairs)"""

  /** Connected components of `pairs` over all `documents` — the oracle
    * of DedupOps.duplicateClusters: `edges`, the recursive `reach`
    * (every label reachable from a document) and `labels` (doc_id,
    * cluster = the smallest). Needs WITH RECURSIVE.
    */
  private[queries] val componentsSql = s"""$undirectedEdgesSql,
        reach(doc_id, lab) AS (
          SELECT doc_id, doc_id AS lab FROM documents
          UNION
          SELECT e.dst AS doc_id, r.lab
          FROM reach r JOIN edges e ON e.src = r.doc_id),
        labels AS (
          SELECT doc_id, MIN(lab) AS cluster FROM reach GROUP BY doc_id)"""

  def queries: Seq[(String, NamedQuery)] = Seq(

    // ---------------------------------------------------------------- q33
    // Exact dedup: normalized-content md5 fingerprint group — keeper is
    // min doc_id per cluster.
    "q33_exact_dedup" -> NamedQuery(
      fn = (s, d) => {
        Tables.documents(s, d)
          .groupBy(md5(lower(trim(col("text")))).as("fp"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
          .select("keeper", "n_copies", "fp")
          .orderBy("keeper")
      },
      oracle = Some("""
        SELECT min(doc_id) AS keeper, COUNT(*) AS n_copies,
               md5(lower(trim(text))) AS fp
        FROM documents
        GROUP BY md5(lower(trim(text)))
        ORDER BY keeper"""),
      doc = "exact dedup via content hash (north-star)"),

    // ---------------------------------------------------------------- q34
    // Word-3-gram shingle Jaccard near-dup: top-3 most similar docs per
    // doc within the same (lang, source) bucket. Jaccard =
    // |∩| / (|A|+|B|−|∩|) — exact integer counts, no float drift.
    "q34_ngram_jaccard" -> NamedQuery(
      fn = (s, d) => {
        val docs = graft.ops.ScaleGuards.requireAllPairsSafe(
          Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), col("source"),
              split(trim(col("text")), "\\s+").as("toks"))
            .filter(size(col("toks")) >= 3),
          "q34_ngram_jaccard",
          successor = "q212_prefix_filter_join (exact threshold join, unguarded, output-sensitive)")
        // the shingle set feeds three consumers (sizes + both join sides);
        // Catalyst can't reuse the exchange across the renamed branches,
        // so materialize it once, scoped (SURVEY.md §4: cache reused inputs)
        val sh = docs.select(col("doc_id"), col("lang"), col("source"),
          explode(array_distinct(expr(
            "transform(sequence(1, size(toks)-2), i -> concat(element_at(toks,i),' ',element_at(toks,i+1),' ',element_at(toks,i+2)))")))
            .as("shingle"))
        graft.ops.CacheScope.withPersisted(sh) {
          val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
          val s1 = sh.select(col("doc_id").as("d1"), col("lang"), col("source"), col("shingle"))
          val s2 = sh.select(col("doc_id").as("d2"), col("lang"), col("source"), col("shingle"))
          val inter = s1.join(s2, Seq("lang", "source", "shingle"))
            .filter(col("d1") < col("d2"))
            .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
          val j = inter
            .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
            .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
            .withColumn("jacc",
              expr("(2 * 1000000 * c + (n1 + n2 - c)) div (2 * (n1 + n2 - c))")
                .cast("double") / lit(1e6))
          RelationalOps.topKPerGroup(Seq("d1"), Seq(col("jacc").desc, col("d2").asc), 3)(j)
            .select("d1", "d2", "jacc")
            .orderBy("d1", "d2")
        }
      },
      oracle = Some("""
        WITH docs AS (
          SELECT doc_id, lang, source, regexp_split_to_array(trim(text), '\s+') AS a
          FROM documents
          WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        sh AS (
          SELECT DISTINCT doc_id, lang, source,
                 unnest(list_transform(range(1, len(a) - 1), i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
          FROM docs),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        inter AS (
          SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS c
          FROM sh s1 JOIN sh s2
            ON s1.lang = s2.lang AND s1.source = s2.source
           AND s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
          GROUP BY 1, 2),
        j AS (
          SELECT d1, d2, CAST((2 * 1000000 * c + (n1.n + n2.n - c)) // (2 * (n1.n + n2.n - c)) AS DOUBLE) / 1e6 AS jacc
          FROM inter
          JOIN sizes n1 ON d1 = n1.doc_id
          JOIN sizes n2 ON d2 = n2.doc_id)
        SELECT d1, d2, jacc
        FROM (SELECT d1, d2, jacc,
                     row_number() OVER (PARTITION BY d1 ORDER BY jacc DESC, d2 ASC) AS rn
              FROM j)
        WHERE rn <= 3
        ORDER BY d1, d2"""),
      doc = "3-gram shingle Jaccard top-3 — GUARDED all-pairs recall oracle (fails fast >50k docs); production successor: q212 prefix-filter threshold join (unguarded, output-sensitive)"),

    // ---------------------------------------------------------------- q35
    // MinHash + LSH banding: k=8 string-min md5 signatures, 4 bands of 2,
    // per-band bucket statistics (candidate generation is the
    // band-bucket join — no all-pairs scan).
    "q35_minhash_bands" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        val toks = docTokens(s, d)
        val bands = DedupOps.bandHashes(toks, DedupOps.SignatureCount, DedupOps.RowsPerBand, Seq.empty)
        val buckets = bands.groupBy("band", "band_hash")
          .agg(count(lit(1)).as("bucket_size"))
        buckets.groupBy("band")
          .agg(
            count(lit(1)).as("n_buckets"),
            sum(when(col("bucket_size") > 1, col("bucket_size")).otherwise(0L)).as("colliding_docs"),
            max(col("bucket_size")).as("max_bucket"))
          .orderBy("band")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        sig AS (
          SELECT doc_id, seed,
                 min((CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
     + seed * CAST('0x' || substr(md5(tok), 17, 15) AS BIGINT)) % 2305843009213693951) AS mh
          FROM toks CROSS JOIN generate_series(0, 7) s(seed)
          GROUP BY 1, 2),
        bands AS (
          SELECT doc_id, seed // 2 AS band,
                 md5(CAST(min(mh) AS VARCHAR) || '#' || CAST(max(mh) AS VARCHAR)) AS band_hash
          FROM sig
          GROUP BY doc_id, seed // 2),
        buckets AS (
          SELECT band, band_hash, COUNT(*) AS bucket_size
          FROM bands GROUP BY 1, 2)
        SELECT band, COUNT(*) AS n_buckets,
               CAST(SUM(CASE WHEN bucket_size > 1 THEN bucket_size ELSE 0 END) AS BIGINT) AS colliding_docs,
               MAX(bucket_size) AS max_bucket
        FROM buckets
        GROUP BY band
        ORDER BY band"""),
      doc = "MinHash signatures + LSH band buckets (north-star)"),

    // ---------------------------------------------------------------- q36
    // SimHash: 16-bit fingerprint from md5-nibble votes over the token
    // set (bit i set iff Σ_tokens ±1 ≥ 0, +1 when hex nibble i ≥ 8).
    "q36_simhash" -> NamedQuery(
      fn = (s, d) => {
        // same long-arithmetic vote extraction as q71 (one conv parse of
        // the first 16 nibbles split 11/5, then shift+mask per bit)
        // instead of 16 substring/isin string compares per token
        val toks = docTokens(s, d).withColumn("h", md5(col("tok")))
          .withColumn("c0", conv(substring(col("h"), 1, 11), 16, 10).cast("long"))
          .withColumn("c1", conv(substring(col("h"), 12, 5), 16, 10).cast("long"))
        def voteBit(i: Int) =
          if (i < 11) shiftright(col("c0"), 4 * (10 - i) + 3).bitwiseAND(lit(1L))
          else shiftright(col("c1"), 4 * (15 - i) + 3).bitwiseAND(lit(1L))
        val aggs = (0 until 16).map(i => sum(voteBit(i)).as(s"c$i")) :+
          count(lit(1)).as("n_tok")
        val bits = (0 until 16).map(i =>
          when(col(s"c$i") * 2L >= col("n_tok"), "1").otherwise("0"))
        toks.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
          .withColumn("simhash", concat(bits: _*))
          .select("doc_id", "simhash")
          .orderBy("doc_id")
      },
      oracle = Some {
        val sums = (0 until 16).map(i =>
          s"CAST(SUM(CASE WHEN substring(h, ${i + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS BIGINT) AS s$i")
          .mkString(",\n                 ")
        val bits = (0 until 16).map(i => s"CASE WHEN s$i >= 0 THEN '1' ELSE '0' END").mkString(" || ")
        s"""
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents),
        h AS (SELECT doc_id, md5(tok) AS h FROM toks),
        sums AS (
          SELECT doc_id,
                 $sums
          FROM h GROUP BY doc_id)
        SELECT doc_id, $bits AS simhash
        FROM sums
        ORDER BY doc_id"""
      },
      doc = "16-bit SimHash fingerprint (north-star)"),

    // ---------------------------------------------------------------- q71
    // SimHash near-dup search, banded (the scale path q36's fingerprint
    // exists for): a 32-bit simhash per doc, split into 4 bands of 8
    // bits; only docs sharing a band value within the same (lang,
    // source) scope become candidates (keyed join on the band bucket —
    // never all-pairs), then the full 32-bit Hamming distance verifies
    // candidates at ≤ 3. Banding guarantee: Hamming ≤ 3 over 4 bands
    // forces ≥ 1 identical band (pigeonhole), so the candidate set has
    // PERFECT recall at the threshold — unlike MinHash banding, which
    // is probabilistic.
    "q71_simhash_neardup" -> NamedQuery(
      fn = (s, d) => {
        val nBits = 32
        // Per-token bit votes as LONG ARITHMETIC, not string compares:
        // nibble i of the md5 is >= 8 iff its high bit is set, so parse
        // the 32 hex chars into three longs once per token (conv fits
        // 11/11/10 nibbles = 44/44/40 bits under the signed-long limit)
        // and read vote bits with shift+mask — 3 parses + 32 shift/ands
        // per token instead of 32 substring allocations × 8-way isin
        // string comparisons (the r3 bench hotspot).
        val toks = Tables.documents(s, d)
          .select(col("lang"), col("source"), col("doc_id"),
            explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tok"))
          .withColumn("h", md5(col("tok")))
          .withColumn("c0", conv(substring(col("h"), 1, 11), 16, 10).cast("long"))
          .withColumn("c1", conv(substring(col("h"), 12, 11), 16, 10).cast("long"))
          .withColumn("c2", conv(substring(col("h"), 23, 10), 16, 10).cast("long"))
        // high bit of nibble i (0-based from the left within its chunk
        // of length len): bit 4*(len-1-i)+3 of the parsed long
        def voteBit(i: Int) = {
          val (chunk, len, local) =
            if (i < 11) ("c0", 11, i) else if (i < 22) ("c1", 11, i - 11) else ("c2", 10, i - 22)
          shiftright(col(chunk), 4 * (len - 1 - local) + 3).bitwiseAND(lit(1L))
        }
        // count of set votes per bit; the ±1 sum is s_i = 2*cnt_i − n,
        // so s_i >= 0  ⟺  2*cnt_i >= n (no per-token ±1 branch needed)
        val aggs = (0 until nBits).map(i => sum(voteBit(i)).as(s"c$i")) :+
          count(lit(1)).as("n_tok")
        // pack the fingerprint into ONE long: Hamming becomes
        // bit_count(xor) — a single instruction instead of 32 string
        // compares, and candidate shuffle rows carry 8 bytes, not 32
        val packed = (0 until nBits).map(i =>
          when(col(s"c$i") * 2L >= col("n_tok"), lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
        val sh = toks.groupBy("lang", "source", "doc_id").agg(aggs.head, aggs.tail: _*)
          .withColumn("simhash", packed)
          .select("lang", "source", "doc_id", "simhash")
        val bands = sh.select(col("lang"), col("source"), col("doc_id"), col("simhash"),
          explode(array((0 until 4).map(b =>
            struct(lit(b.toLong).as("band"),
              shiftright(col("simhash"), b * 8).bitwiseAND(lit(255L)).as("bits"))): _*)).as("bb"))
          .select(col("lang"), col("source"), col("doc_id"), col("simhash"),
            col("bb.band").as("band"), col("bb.bits").as("bits"))
        val b1 = bands.select(col("lang"), col("source"), col("band"), col("bits"),
          col("doc_id").as("d1"), col("simhash").as("sh1"))
        val b2 = bands.select(col("lang"), col("source"), col("band"), col("bits"),
          col("doc_id").as("d2"), col("simhash").as("sh2"))
        b1.join(b2, Seq("lang", "source", "band", "bits"))
          .filter(col("d1") < col("d2"))
          .select("d1", "d2", "sh1", "sh2").distinct()
          .withColumn("hamming", expr("bit_count(sh1 ^ sh2)").cast("long"))
          .filter(col("hamming") <= 3L)
          .select("d1", "d2", "hamming")
          .orderBy("d1", "d2")
      },
      oracle = Some {
        val sums = (0 until 32).map(i =>
          s"CAST(SUM(CASE WHEN substring(h, ${i + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS BIGINT) AS s$i")
          .mkString(",\n                 ")
        val packed = (0 until 32).map(i => s"CASE WHEN s$i >= 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
        s"""
        WITH toks AS (
          SELECT DISTINCT lang, source, doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents),
        h AS (SELECT lang, source, doc_id, md5(tok) AS h FROM toks),
        sums AS (
          SELECT lang, source, doc_id,
                 $sums
          FROM h GROUP BY 1, 2, 3),
        sh AS (SELECT lang, source, doc_id, CAST($packed AS BIGINT) AS simhash FROM sums),
        bands AS (
          SELECT lang, source, doc_id, simhash, unnest(range(0, 4)) AS band
          FROM sh),
        bb AS (
          SELECT lang, source, doc_id, simhash, band,
                 (simhash >> CAST(band * 8 AS INTEGER)) & 255 AS bits
          FROM bands),
        c AS (
          SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2,
                 b1.simhash AS sh1, b2.simhash AS sh2
          FROM bb b1 JOIN bb b2
            ON b1.lang = b2.lang AND b1.source = b2.source
           AND b1.band = b2.band AND b1.bits = b2.bits
           AND b1.doc_id < b2.doc_id)
        SELECT d1, d2, CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming
        FROM c
        WHERE bit_count(xor(sh1, sh2)) <= 3
        ORDER BY d1, d2"""
      },
      doc = "banded SimHash near-dup: pigeonhole candidates + bit_count Hamming verify (north-star scale path)"),

    // --------------------------------------------------------------- q148
    // MinHash estimator accuracy audit — the sketch-quality check that
    // tells you whether k=8 signatures are enough before you trust the
    // LSH pipeline's candidate scores at scale: per estimator level
    // (n_eq of 8 matching signature components — the unbiased MinHash
    // estimate is n_eq/8), the DISTRIBUTION of the exact token-set
    // Jaccard across all banded candidate pairs: pair count, mean exact
    // Jaccard, mean |estimate − exact|, and the exact min/max envelope.
    // The report is the 9-row calibration curve, NOT the per-pair list —
    // per-pair detail is corpus-quadratic-ish in the duplicate density
    // and is exactly what an audit must aggregate away at 100 TB (the
    // first cut emitted pairs and spent 76 s at sf0.1 materializing
    // millions of rows; the curve costs the same joins and shuffles
    // O(9) out). Companion to q145: q145 grades the index's RECALL,
    // this grades the sketch's PRECISION. Shapes are the dedup
    // family's (banded candidates, signature join keyed by (doc, seed),
    // exploded exact Jaccard); the token table persists only for the
    // build (CacheScope); means are exact scale-6 sums over rounded-6
    // terms divided by exact counts. Candidates are (lang, source)-
    // scoped EXACTLY like the q50 pipeline this audits — the unscoped
    // candidate set is quadratic in the cross-source template
    // duplication (measured: 55 s at sf0.1 vs ~2 s scoped) and is not
    // the set whose scores the pipeline ever consumes.
    "q148_minhash_accuracy" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp: SparkSession = s
        val scope = Seq("lang", "source")
        val toks = graft.ops.DedupOps.tokenSet(Tables.documents(s, d), "text", scope)
        graft.ops.CacheScope.withPersisted(toks) {
          // ONE wide signature aggregate feeds bands AND the estimator
          // compare (lazy-checkpointed so its three consumers share one
          // evaluation): the former shape re-ran the signature
          // aggregation through minhashSignatures' 8× seed fan-out —
          // an extra k·|docs|-row shuffle plus two (doc, seed)-keyed
          // joins — to recompute the very mins bandHashes already held
          // as columns (guide §2.4 remove shuffles outright). n_eq over
          // the wide rows is the same Σ_seed [mh1 = mh2], bit-exact.
          val sigW = graft.ops.DedupOps.minhashSignaturesWide(toks, 8, scope)
            .localCheckpoint(false)
          val bands = graft.ops.DedupOps.bandHashesFromWide(sigW, 8, 2, scope)
          val cand = graft.ops.DedupOps.candidatePairs(bands, scope)
          val s1 = sigW.select(col("doc_id").as("d1") +:
            (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
          val s2 = sigW.select(col("doc_id").as("d2") +:
            (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
          val est = cand
            .join(s1, Seq("d1"))
            .join(s2, Seq("d2"))
            .withColumn("n_eq",
              (0 until 8).map(i =>
                when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _))
            .select(col("d1"), col("d2"), col("n_eq"))
            .withColumn("est_j", col("n_eq").cast("double") / 8.0)
          val exact = graft.ops.DedupOps.jaccardExploded(toks, cand)
            .select(col("d1"), col("d2"), col("jacc"))
          est.join(exact, Seq("d1", "d2"))
            .withColumn("abs_err", round(abs(col("est_j") - col("jacc")), 6))
            .groupBy("n_eq")
            .agg(
              max(col("est_j")).as("est_j"),
              count(lit(1)).as("n_pairs"),
              ExactSums.total(Seq(ExactSums.cents(col("jacc"), 6))).as("jmicro"),
              ExactSums.total(Seq(ExactSums.cents(col("abs_err"), 6))).as("emicro"),
              min(col("jacc")).as("min_jacc"),
              max(col("jacc")).as("max_jacc"))
            // means as exact rationals, half-away in integer math (PARITY
            // rule 4 fix 2 — round(double/count, 6) splits engines when
            // sum/count lands on a decimal midpoint; q70 hit one at sf1)
            .withColumn("mean_jacc",
              expr("(2 * jmicro + n_pairs) div (2 * n_pairs)").cast("double") / lit(1e6))
            .withColumn("mean_abs_err",
              expr("(2 * emicro + n_pairs) div (2 * n_pairs)").cast("double") / lit(1e6))
            .select(col("n_eq"), col("est_j"), col("n_pairs"), col("mean_jacc"),
              col("mean_abs_err"), col("min_jacc"), col("max_jacc"))
            .orderBy("n_eq")
        }
      },
      oracle = Some("WITH" + minhashBandsSql + """,
        cand AS (
          SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
          FROM bands b1 JOIN bands b2
            ON b1.lang = b2.lang AND b1.source = b2.source
           AND b1.band = b2.band AND b1.band_hash = b2.band_hash
          WHERE b1.doc_id < b2.doc_id),
        est AS (
          SELECT c.d1, c.d2,
                 CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_eq
          FROM cand c
          JOIN sig a ON a.doc_id = c.d1
          JOIN sig b ON b.doc_id = c.d2 AND b.seed = a.seed
          GROUP BY c.d1, c.d2),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
        inter AS (
          SELECT c.d1, c.d2, COUNT(*) AS ic
          FROM cand c
          JOIN toks t1 ON t1.doc_id = c.d1
          JOIN toks t2 ON t2.doc_id = c.d2 AND t2.tok = t1.tok
          GROUP BY c.d1, c.d2),
        exact AS (
          SELECT i.d1, i.d2,
                 CAST((2 * 1000000 * i.ic + (s1.n + s2.n - i.ic)) // (2 * (s1.n + s2.n - i.ic)) AS DOUBLE) / 1e6 AS jacc
          FROM inter i
          JOIN sizes s1 ON s1.doc_id = i.d1
          JOIN sizes s2 ON s2.doc_id = i.d2),
        pairs AS (
          SELECT e.n_eq,
                 CAST(e.n_eq AS DOUBLE) / 8.0 AS est_j,
                 x.jacc,
                 round(abs(CAST(e.n_eq AS DOUBLE) / 8.0 - x.jacc), 6) AS abs_err
          FROM est e JOIN exact x ON e.d1 = x.d1 AND e.d2 = x.d2),
        grp AS (
          SELECT n_eq,
                 MAX(est_j) AS est_j,
                 COUNT(*) AS n_pairs,
                 CAST(SUM(CAST(jacc AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS jmicro,
                 CAST(SUM(CAST(abs_err AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS emicro,
                 MIN(jacc) AS min_jacc,
                 MAX(jacc) AS max_jacc
          FROM pairs
          GROUP BY n_eq)
        SELECT n_eq, est_j, n_pairs,
               CAST((2 * jmicro + n_pairs) // (2 * n_pairs) AS DOUBLE) / 1e6 AS mean_jacc,
               CAST((2 * emicro + n_pairs) // (2 * n_pairs) AS DOUBLE) / 1e6 AS mean_abs_err,
               min_jacc, max_jacc
        FROM grp
        ORDER BY n_eq"""),
      doc = "MinHash estimator calibration curve: exact-Jaccard distribution per estimator level (sketch audit)"),

    // --------------------------------------------------------------- q183
    // Containment dedup (Broder's asymmetric resemblance): score
    // candidate pairs by max(|A∩B|/|A|, |A∩B|/|B|) instead of Jaccard —
    // the filter that catches SUBSET duplicates (a doc quoted/embedded
    // inside a longer one), which the symmetric gate structurally
    // misses: at sf0.01, 101 of the 1124 pairs this emits have
    // Jaccard < 0.5 and are invisible to q50. Same scale path as the
    // whole family — (lang,source)-scoped LSH bands for candidates,
    // exploded exact-intersection verify, all keyed — only the final
    // score differs.
    "q183_containment_dedup" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        val scope = Seq("lang", "source")
        val toks = DedupOps.tokenSet(Tables.documents(s, d), "text", scope)
        val cands = DedupOps.candidatePairs(
          DedupOps.bandHashes(toks, DedupOps.SignatureCount, DedupOps.RowsPerBand, scope), scope)
        DedupOps.jaccardExploded(toks, cands)
          .withColumn("containment",
            greatest(
              expr("(2 * 1000000 * c + n1) div (2 * n1)").cast("double") / lit(1e6),
              expr("(2 * 1000000 * c + n2) div (2 * n2)").cast("double") / lit(1e6)))
          .filter(col("containment") >= 0.8)
          .select("d1", "d2", "c", "n1", "n2", "containment")
          .orderBy("d1", "d2")
      },
      oracle = Some("WITH" + neardupSql + """
        SELECT d1, d2, cnt AS c, n1.n AS n1, n2.n AS n2,
               greatest(CAST((2 * 1000000 * cnt + n1.n) // (2 * n1.n) AS DOUBLE) / 1e6,
                        CAST((2 * 1000000 * cnt + n2.n) // (2 * n2.n) AS DOUBLE) / 1e6) AS containment
        FROM inter
        JOIN sizes n1 ON d1 = n1.doc_id
        JOIN sizes n2 ON d2 = n2.doc_id
        WHERE greatest(CAST((2 * 1000000 * cnt + n1.n) // (2 * n1.n) AS DOUBLE) / 1e6,
                       CAST((2 * 1000000 * cnt + n2.n) // (2 * n2.n) AS DOUBLE) / 1e6) >= 0.8
        ORDER BY d1, d2"""),
      doc = "containment (asymmetric) dedup: subset-duplicate detection the symmetric Jaccard gate misses, same LSH scale path (north-star)")
  ) ++ fuzzyQueries ++ prefixJoinQueries

  /** Blocked candidate pairs for the record-linkage family (q196/q197,
    * q203's edge set): (lang, source, n_chars/64 length band) blocking
    * keys PLUS a content pigeonhole component (round-10, verdict task 2
    * — the LSH-band-scoping pattern applied to edit similarity): each
    * 32-char signature splits into 4 aligned 8-char chunks, and two
    * records are candidates only when they share the SAME chunk at the
    * SAME position within the same (lang, source, band) block. The
    * pigeonhole guarantee (PassJoin / Ed-Join segment filtering): any
    * pair within ≤3 aligned substitutions of each other shares at
    * least one chunk verbatim, so the recall contract is "character
    * corruption, not wholesale rewrites" — exactly the fuzzy-dup mode
    * this family exists to catch. The scale property this buys: block
    * cardinality now grows with CONTENT diversity, so per-block size
    * stays bounded as the corpus grows, where the bare
    * (lang, source, band) key had a fixed number of blocks and
    * quadratic candidate growth (measured ~100× pairs for 10× rows at
    * sf1; see SCALING.md "Record-linkage blocking"). Empty chunks
    * (signatures shorter than a chunk boundary) are dropped — '' = ''
    * must never be a match key. On top of the content key, blocks
    * larger than 64 records are DROPPED entirely (the standard
    * frequent-key discard from the ER blocking literature: a chunk
    * shared by thousands of records is boilerplate, not linkage
    * evidence, and exact duplicates are q33's job) — this is the
    * structural bound: total candidates ≤ #blocks · C(64,2) whatever
    * the corpus, and the cap check rides the SAME hash partitioning
    * as the join (one window count, no extra exchange). Measured: the
    * cap drops nothing at sf0.001–sf1 on this corpus. The signature
    * bounds the per-pair cost: levenshtein is O(32²), jaro_winkler
    * O(32·window), independent of document length.
    */
  private def blockedSigPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        (col("n_chars") / 64).cast("long").as("band"),
        substring(col("text"), 1, 32).as("sig"))
      // PARITY rule 9 ENFORCED (round-11, ADVICE round 9): the native
      // jaro_winkler compares UTF-16 code units while DuckDB compares
      // UTF-8 bytes, so the family's bit-exact parity claim holds for
      // ASCII signatures ONLY. Non-ASCII signatures are excluded from
      // linkage here (octet_length == char length ⟺ pure ASCII, the
      // same predicate both engines evaluate identically) instead of
      // silently producing engine-dependent scores; the byte-mode
      // scorer variant (q216, jaro_winkler_bytes) is the family's
      // non-ASCII path (documented in PARITY.md).
      .filter(octet_length(col("sig")) === length(col("sig")))
    chunkBlockPairs(docs)
  }

  /** The chunk-pigeonhole blocking core shared by blockedSigPairs
    * (ASCII-filtered, code-unit scorers) and q216's byte-mode variant
    * (unfiltered, byte scorer). Input needs
    * (doc_id, lang, source, n_chars, band, sig).
    */
  private def chunkBlockPairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blockW = Window.partitionBy("lang", "source", "band", "cid", "chunk")
    val chunked = docs
      .withColumn("cid", explode(array((0 until 4).map(i => lit(i.toLong)): _*)))
      .withColumn("chunk", expr("substring(sig, cid * 8 + 1, 8)"))
      .filter(col("chunk") =!= "")
      .withColumn("block_n", count(lit(1)).over(blockW))
      .filter(col("block_n") <= 64)
    val a = chunked.select(col("lang"), col("source"), col("band"), col("cid"), col("chunk"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("n_chars").as("nc_a"))
    val b = chunked.select(col("lang"), col("source"), col("band"), col("cid"), col("chunk"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("n_chars").as("nc_b"))
    a.join(b, Seq("lang", "source", "band", "cid", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      // a pair can share up to 4 chunks — dedup to one candidate row
      .select("lang", "source", "doc_a", "doc_b", "sig_a", "sig_b", "nc_a", "nc_b")
      .distinct()
  }

  private val fuzzySqlBlocks = """
        WITH d AS (
          SELECT doc_id, lang, source, n_chars,
                 CAST(floor(n_chars / 64) AS BIGINT) AS band,
                 substr(text, 1, 32) AS sig
          FROM documents
          WHERE strlen(substr(text, 1, 32)) = length(substr(text, 1, 32))),
        c0 AS (
          SELECT doc_id, lang, source, n_chars, band, sig, g.cid,
                 substr(sig, g.cid * 8 + 1, 8) AS chunk
          FROM d CROSS JOIN generate_series(0, 3) g(cid)
          WHERE substr(sig, g.cid * 8 + 1, 8) <> ''),
        c AS (
          SELECT * FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY lang, source, band, cid, chunk) AS block_n
            FROM c0)
          WHERE block_n <= 64),
        p AS (
          SELECT DISTINCT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.sig AS sig_a, b.sig AS sig_b,
                 a.n_chars AS nc_a, b.n_chars AS nc_b
          FROM c a JOIN c b
            ON a.lang = b.lang AND a.source = b.source AND a.band = b.band
           AND a.cid = b.cid AND a.chunk = b.chunk
           AND a.doc_id < b.doc_id)"""

  private def fuzzyQueries: Seq[(String, NamedQuery)] = Seq(

    // --------------------------------------------------------------- q196
    // Edit-distance fuzzy matching — the dedup mode the token-set family
    // (Jaccard/MinHash/SimHash) cannot see: character-level corruption
    // (typos, OCR noise, mojibake) destroys token identity but moves
    // edit distance only a little. Blocking per `blockedSigPairs`;
    // Spark's built-in codegen'd `levenshtein` scores each candidate
    // pair, integer distance → exact hash parity with DuckDB's
    // `levenshtein`. The threshold is the half-length rule from the
    // record-linkage literature, SCALED to the actual signature
    // lengths (ADVICE round 9: a fixed ≤16 on signatures shorter than
    // 16 chars passed every pair vacuously) — lev ≤ max(len_a, len_b)/2,
    // integer division, mirrored in the oracle.
    "q196_fuzzy_edit_pairs" -> NamedQuery(
      fn = (s, d) => {
        blockedSigPairs(s, d)
          .withColumn("lev", levenshtein(col("sig_a"), col("sig_b")).cast("long"))
          .filter(col("lev") <= expr("greatest(length(sig_a), length(sig_b)) div 2"))
          .select("lang", "source", "doc_a", "doc_b", "lev")
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some(fuzzySqlBlocks + """
        SELECT lang, source, doc_a, doc_b,
               CAST(levenshtein(sig_a, sig_b) AS BIGINT) AS lev
        FROM p
        WHERE levenshtein(sig_a, sig_b) <= greatest(length(sig_a), length(sig_b)) // 2
        ORDER BY doc_a, doc_b"""),
      doc = "edit-distance fuzzy dedup: (lang,source,length-band)-blocked pairs, codegen'd levenshtein on bounded signatures, integer-exact parity (record linkage)"),

    // --------------------------------------------------------------- q197
    // The same linkage scaffold scored by graft's native `jaro_winkler`
    // Catalyst expression (expr/StringSim.scala) — prefix-weighted
    // similarity, the measure designed for name/title linkage where
    // early characters matter most. The expression is pinned BIT-EXACT
    // to DuckDB's jaro_winkler_similarity (StringSimSpec fuzz), so the
    // gate hash-matches raw unrounded doubles — the strongest parity
    // claim available (PARITY.md rule 2), same class as q188's kappa.
    "q197_jaro_winkler_linkage" -> NamedQuery(
      fn = (s, d) => {
        blockedSigPairs(s, d)
          .withColumn("jw", expr("jaro_winkler(sig_a, sig_b)"))
          .filter(col("jw") >= 0.8)
          .select("lang", "source", "doc_a", "doc_b", "jw")
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some(fuzzySqlBlocks + """
        SELECT lang, source, doc_a, doc_b,
               jaro_winkler_similarity(sig_a, sig_b) AS jw
        FROM p
        WHERE jaro_winkler_similarity(sig_a, sig_b) >= 0.8
        ORDER BY doc_a, doc_b"""),
      doc = "Jaro-Winkler record linkage via the native codegen'd jaro_winkler expression, bit-exact unrounded-double parity with the oracle (record linkage)"),

    // --------------------------------------------------------------- q203
    // The entity-resolution CAPSTONE, Fellegi-Sunter style: multiple
    // fuzzy evidence channels fused into a match score, thresholded
    // into edges, closed into entities by connected components — the
    // full record-linkage pipeline in one lazy plan. Evidence per
    // blocked pair: Jaro-Winkler ≥ 0.8 (weight 2 — prefix-weighted
    // similarity is the strongest signal), levenshtein within the
    // length-scaled half-length bound (weight 1, the q196 rule),
    // length proximity |Δn_chars| ≤ 16 (weight 1); score ≥ 3 means the
    // JW channel PLUS corroboration. Components run on the same
    // checkpointed min-label core as q55/q117 (O(diameter) keyed
    // rounds); the oracle closes the identical edge set with a
    // recursive CTE. Entities = clusters with ≥ 2 records.
    "q203_entity_resolution" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        val edges = blockedSigPairs(s, d)
          .withColumn("score",
            when(expr("jaro_winkler(sig_a, sig_b)") >= 0.8, 2L).otherwise(0L) +
              when(levenshtein(col("sig_a"), col("sig_b")) <=
                expr("greatest(length(sig_a), length(sig_b)) div 2"), 1L).otherwise(0L) +
              when(abs(col("nc_a") - col("nc_b")) <= 16, 1L).otherwise(0L))
          .filter(col("score") >= 3)
          .select(col("doc_a").as("d1"), col("doc_b").as("d2"))
        val docs = Tables.documents(s, d).select("doc_id")
        graft.ops.DedupOps.duplicateClusters(edges, docs, maxIter = 15)
          .groupBy("cluster").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2)
          .orderBy("cluster")
      },
      oracle = Some("""
        WITH RECURSIVE d AS (
          SELECT doc_id, lang, source, n_chars,
                 CAST(floor(n_chars / 64) AS BIGINT) AS band,
                 substr(text, 1, 32) AS sig
          FROM documents
          WHERE strlen(substr(text, 1, 32)) = length(substr(text, 1, 32))),
        ch0 AS (
          SELECT doc_id, lang, source, n_chars, band, sig, g.cid,
                 substr(sig, g.cid * 8 + 1, 8) AS chunk
          FROM d CROSS JOIN generate_series(0, 3) g(cid)
          WHERE substr(sig, g.cid * 8 + 1, 8) <> ''),
        ch AS (
          SELECT * FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY lang, source, band, cid, chunk) AS block_n
            FROM ch0)
          WHERE block_n <= 64),
        cand AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                 a.sig AS sig_a, b.sig AS sig_b,
                 a.n_chars AS nc_a, b.n_chars AS nc_b
          FROM ch a JOIN ch b
            ON a.lang = b.lang AND a.source = b.source AND a.band = b.band
           AND a.cid = b.cid AND a.chunk = b.chunk
           AND a.doc_id < b.doc_id),
        p AS (
          SELECT d1, d2,
                 (CASE WHEN jaro_winkler_similarity(sig_a, sig_b) >= 0.8 THEN 2 ELSE 0 END)
               + (CASE WHEN levenshtein(sig_a, sig_b)
                         <= greatest(length(sig_a), length(sig_b)) // 2 THEN 1 ELSE 0 END)
               + (CASE WHEN abs(nc_a - nc_b) <= 16 THEN 1 ELSE 0 END) AS score
          FROM cand),
        pairs AS (SELECT d1, d2 FROM p WHERE score >= 3),""" + componentsSql + """
        SELECT cluster, COUNT(*) AS n_docs
        FROM labels
        GROUP BY cluster
        HAVING COUNT(*) >= 2
        ORDER BY cluster"""),
      doc = "entity resolution capstone: Fellegi-Sunter evidence fusion (JW + levenshtein + length) over blocked pairs, thresholded edges, component entities (record linkage)"),

    // --------------------------------------------------------------- q216
    // Byte-mode Jaro-Winkler linkage — PARITY rule 9's boundary CLOSED
    // (round-11 verdict task 4): the native `jaro_winkler_bytes`
    // expression scores UTF-8 BYTES, DuckDB's native reading, so
    // non-ASCII signatures PARTICIPATE in linkage with bit-exact parity
    // instead of being excluded by blockedSigPairs' octet_length
    // filter. The fixture makes the claim non-vacuous: every
    // signature is deterministically accented (translate a/e/o →
    // ä/é/ø, chr 228/233/248 — single-code-point BMP chars, 2 UTF-8
    // bytes each, mirrored in the oracle's d CTE). translate is
    // per-character, so chunk equality — and with it the whole
    // blocking topology — is exactly q197's, but every chunk that
    // contains a/e/o is now multi-byte: the pairs that reach the
    // scorer are genuinely non-ASCII (bytes_a > 32 in the output rows
    // is the visible proof), which is precisely the input class the
    // octet_length guard excludes from q197. Same chunk-pigeonhole
    // blocking core as q196/q197/q203 (chunk equality is byte equality
    // on both engines, so blocking needs no ASCII guard), same ≥ 0.8
    // threshold, raw unrounded doubles hash-compared.
    "q216_jw_bytes_linkage" -> NamedQuery(
      fn = (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
            (col("n_chars") / 64).cast("long").as("band"),
            translate(substring(col("text"), 1, 32), "aeo", "äéø").as("sig"))
        chunkBlockPairs(docs)
          .withColumn("jwb", expr("jaro_winkler_bytes(sig_a, sig_b)"))
          .filter(col("jwb") >= 0.8)
          .select(col("lang"), col("source"), col("doc_a"), col("doc_b"),
            octet_length(col("sig_a")).cast("long").as("bytes_a"), col("jwb"))
          .orderBy("doc_a", "doc_b")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, lang, source, n_chars,
                 CAST(floor(n_chars / 64) AS BIGINT) AS band,
                 translate(substr(text, 1, 32),
                           'aeo', chr(228) || chr(233) || chr(248)) AS sig
          FROM documents),
        c0 AS (
          SELECT doc_id, lang, source, n_chars, band, sig, g.cid,
                 substr(sig, g.cid * 8 + 1, 8) AS chunk
          FROM d CROSS JOIN generate_series(0, 3) g(cid)
          WHERE substr(sig, g.cid * 8 + 1, 8) <> ''),
        c AS (
          SELECT * FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY lang, source, band, cid, chunk) AS block_n
            FROM c0)
          WHERE block_n <= 64),
        p AS (
          SELECT DISTINCT a.lang, a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.sig AS sig_a, b.sig AS sig_b
          FROM c a JOIN c b
            ON a.lang = b.lang AND a.source = b.source AND a.band = b.band
           AND a.cid = b.cid AND a.chunk = b.chunk
           AND a.doc_id < b.doc_id)
        SELECT lang, source, doc_a, doc_b,
               CAST(strlen(sig_a) AS BIGINT) AS bytes_a,
               jaro_winkler_similarity(sig_a, sig_b) AS jwb
        FROM p
        WHERE jaro_winkler_similarity(sig_a, sig_b) >= 0.8
        ORDER BY doc_a, doc_b"""),
      doc = "byte-mode Jaro-Winkler linkage via the native jaro_winkler_bytes expression: non-ASCII signatures participate with bit-exact UTF-8-byte parity, closing PARITY rule 9's boundary (record linkage)")
  )

  /** Word-3-gram shingle sets, (lang, source)-scoped, in the DedupOps
    * `tok` column convention — the q34 shingle relation without the
    * all-pairs guard (q212/q213 exist precisely to not need one).
    */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(expr(
          "transform(sequence(1, size(toks)-2), i -> concat(element_at(toks,i),' ',element_at(toks,i+1),' ',element_at(toks,i+2)))")))
          .as("tok"))

  private val prefixScope = Seq("lang", "source")

  /** The shared shingle/size/intersection CTE head both oracles reuse. */
  private val shingleSqlHead = """
        WITH docs AS (
          SELECT doc_id, lang, source, regexp_split_to_array(trim(text), '\s+') AS a
          FROM documents
          WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        sh AS (
          SELECT DISTINCT doc_id, lang, source,
                 unnest(list_transform(range(1, len(a) - 1), i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
          FROM docs),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)"""

  private def prefixJoinQueries: Seq[(String, NamedQuery)] = Seq(

    // --------------------------------------------------------------- q212
    // Threshold similarity join, EXACT and UNGUARDED — the scale-safe
    // successor to q34's guarded all-shared-shingle scan: emit every
    // same-(lang, source) pair with 3-gram Jaccard ≥ 0.5, generating
    // candidates only through the rarest-first PREFIX of each shingle
    // set (DedupOps.prefixRows: All-Pairs/PPJoin prefix filtering,
    // t = 1/2 → prefix ⌊n/2⌋+1). Where q34 must fail-fast above 50k
    // docs because one boilerplate shingle makes a quadratic bucket,
    // q212's hot shingles sort out of the prefixes and the join volume
    // tracks OUTPUT, not corpus size (q213 measures the reduction;
    // SCALING.md "Prefix-filter join at sf1/sf10" records the measured
    // exponents q34 structurally cannot have). The oracle is the
    // BRUTE-FORCE thresholded join —
    // no prefix logic at all — so the hash match is an empirical proof
    // of the prefix filter's perfect-recall guarantee, not a port.
    "q212_prefix_filter_join" -> NamedQuery(
      fn = (s, d) => {
        val sh = shingleSets(s, d)
        graft.ops.CacheScope.withPersisted(sh) {
          graft.ops.DedupOps.jaccardThresholdJoin(sh, prefixScope, 1, 2)
            .select("d1", "d2", "c", "n1", "n2", "jacc")
            .orderBy("d1", "d2")
        }
      },
      oracle = Some(shingleSqlHead + """,
        inter AS (
          SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS c
          FROM sh s1 JOIN sh s2
            ON s1.lang = s2.lang AND s1.source = s2.source
           AND s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2, c, n1.n AS n1, n2.n AS n2,
               CAST((2 * 1000000 * c + (n1.n + n2.n - c)) // (2 * (n1.n + n2.n - c)) AS DOUBLE) / 1e6 AS jacc
        FROM inter
        JOIN sizes n1 ON d1 = n1.doc_id
        JOIN sizes n2 ON d2 = n2.doc_id
        WHERE 3 * c >= n1.n + n2.n
        ORDER BY d1, d2"""),
      doc = "exact Jaccard>=0.5 threshold join via rarest-first prefix filtering (All-Pairs/PPJoin), unguarded; oracle is the brute-force join, so the hash match proves perfect recall (north-star)"),

    // --------------------------------------------------------------- q213
    // The prefix filter's effectiveness, measured in the engine itself
    // and hash-gated: per lang, the bucket-join volume the naive path
    // would generate (Σ k·(k−1)/2 over (lang, source, shingle)
    // buckets — q34's join shape), the volume the prefix path actually
    // generates (same sum over prefix-surviving rows), the distinct
    // candidate pairs after the length filter, and the verified
    // matches. All exact integers (no pair materialization for the
    // volume sums — they fold inside the bucket groupBy), reduction as
    // the exact-rational micro rounding. This is the audit a mixture
    // of q34-vs-q212 planning reads at 100 TB: join volume is the cost
    // model's x-axis, and the ratio is what the prefix buys.
    "q213_prefix_filter_audit" -> NamedQuery(
      fn = (s, d) => {
        val sh = shingleSets(s, d)
        graft.ops.CacheScope.withPersisted(sh) {
          val pre = DedupOps.prefixRows(sh, prefixScope, 1, 2)
          graft.ops.CacheScope.withPersisted(pre) {
            val allB = sh.groupBy("lang", "source", "tok").agg(count(lit(1)).as("k"))
              .groupBy("lang").agg(sum(expr("k * (k - 1) div 2")).as("join_rows_all"))
            val preB = pre.groupBy("lang", "source", "tok").agg(count(lit(1)).as("k"))
              .groupBy("lang").agg(sum(expr("k * (k - 1) div 2")).as("join_rows_prefix"))
            val cand = DedupOps.prefixCandidates(pre, prefixScope, 1, 2)
            val candN = cand.groupBy("lang").agg(count(lit(1)).as("candidate_pairs"))
            val matchN = DedupOps.verifyJaccardThreshold(sh, cand, prefixScope, 1, 2)
              .groupBy("lang").agg(count(lit(1)).as("matched_pairs"))
            allB.join(preB, Seq("lang"))
              .join(candN, Seq("lang"), "left")
              .join(matchN, Seq("lang"), "left")
              .select(col("lang"), col("join_rows_all"), col("join_rows_prefix"),
                coalesce(col("candidate_pairs"), lit(0L)).as("candidate_pairs"),
                coalesce(col("matched_pairs"), lit(0L)).as("matched_pairs"),
                expr("(2 * 1000000 * join_rows_prefix + join_rows_all) div (2 * join_rows_all)")
                  .cast("double").divide(lit(1e6)).as("reduction"))
              .orderBy("lang")
          }
        }
      },
      oracle = Some(shingleSqlHead + """,
        f AS (SELECT lang, source, shingle, COUNT(*) AS df
              FROM sh GROUP BY 1, 2, 3),
        allb AS (SELECT lang, CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS join_rows_all
                 FROM f GROUP BY 1),
        ranked AS (
          SELECT sh.doc_id, sh.lang, sh.source, sh.shingle, sz.n,
                 row_number() OVER (PARTITION BY sh.doc_id
                                    ORDER BY f.df, sh.shingle) AS pos
          FROM sh
          JOIN f USING (lang, source, shingle)
          JOIN sizes sz ON sh.doc_id = sz.doc_id),
        pre AS (SELECT * FROM ranked WHERE pos <= n // 2 + 1),
        prek AS (SELECT lang, source, shingle, COUNT(*) AS k
                 FROM pre GROUP BY 1, 2, 3),
        preb AS (SELECT lang, CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS join_rows_prefix
                 FROM prek GROUP BY 1),
        cand AS (
          SELECT DISTINCT p1.lang, p1.doc_id AS d1, p2.doc_id AS d2
          FROM pre p1 JOIN pre p2
            ON p1.lang = p2.lang AND p1.source = p2.source
           AND p1.shingle = p2.shingle AND p1.doc_id < p2.doc_id
           AND 2 * least(p1.n, p2.n) >= greatest(p1.n, p2.n)),
        candn AS (SELECT lang, COUNT(*) AS candidate_pairs FROM cand GROUP BY 1),
        inter AS (
          SELECT c.lang, c.d1, c.d2, COUNT(*) AS cnt
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.d1
          JOIN sh s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
          GROUP BY 1, 2, 3),
        m AS (
          SELECT i.lang, COUNT(*) AS matched_pairs
          FROM inter i
          JOIN sizes a ON i.d1 = a.doc_id
          JOIN sizes b ON i.d2 = b.doc_id
          WHERE 3 * i.cnt >= a.n + b.n
          GROUP BY 1)
        SELECT lang, join_rows_all, join_rows_prefix,
               COALESCE(candidate_pairs, 0) AS candidate_pairs,
               COALESCE(matched_pairs, 0) AS matched_pairs,
               CAST((2 * 1000000 * join_rows_prefix + join_rows_all)
                    // (2 * join_rows_all) AS DOUBLE) / 1e6 AS reduction
        FROM allb
        JOIN preb USING (lang)
        LEFT JOIN candn USING (lang)
        LEFT JOIN m USING (lang)
        ORDER BY lang"""),
      doc = "prefix-filter effectiveness audit: naive vs prefix bucket-join volume, candidates, matches per lang, exact integers (north-star)")
  )
}
