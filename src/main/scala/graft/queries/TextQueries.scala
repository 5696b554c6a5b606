package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.Tables
import graft.ops.TextOps

/** Text-analysis operators over `documents` (builder-prompt north-star:
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting). All are pure column expressions — codegen'd, no UDFs —
  * and each has an exact DuckDB oracle (md5 and regexp semantics align).
  */
object TextQueries extends QueryModule {

  /** `docs` with the language-ID heuristic's marker-token votes `v_en`,
    * `v_es`, `v_de` and its argmax `pred_lang` (ties to en, then es):
    * q31's and q188's one classifier.
    */
  private def withPredictedLang(docs: DataFrame): DataFrame = {
    def votes(markers: String) =
      size(split(col("padded"), s" ($markers) ")).cast("long") - 1L
    docs.withColumn("padded", concat(lit(" "), col("text"), lit(" ")))
      .withColumn("v_en", votes("the|and|of"))
      .withColumn("v_es", votes("el|la|de"))
      .withColumn("v_de", votes("der|die|und"))
      .withColumn("pred_lang",
        when(col("v_en") >= col("v_es") && col("v_en") >= col("v_de"), "en")
          .when(col("v_es") >= col("v_de"), "es")
          .otherwise("de"))
  }

  /** The DuckDB side of `withPredictedLang`'s votes: `scored`; no WITH. */
  private val langVotesSql = """
        scored AS (
          SELECT lang,
                 CAST(len(regexp_split_to_array(' ' || text || ' ', ' (the|and|of) ')) AS BIGINT) - 1 AS v_en,
                 CAST(len(regexp_split_to_array(' ' || text || ' ', ' (el|la|de) ')) AS BIGINT) - 1 AS v_es,
                 CAST(len(regexp_split_to_array(' ' || text || ' ', ' (der|die|und) ')) AS BIGINT) - 1 AS v_de
          FROM documents)"""

  /** The DuckDB side of `withPredictedLang`'s argmax, over `scored`'s votes. */
  private val predLangSql = """CASE WHEN v_en >= v_es AND v_en >= v_de THEN 'en'
                    WHEN v_es >= v_de THEN 'es'
                    ELSE 'de' END AS pred_lang"""

  /** Winnowing fingerprints (MOSS-style) of the documents with at least
    * 6 tokens (≥ 3 shingles → ≥ 1 full-ish window): every 3-token
    * shingle hashes to the first 60 bits of its md5 as a LONG, and each
    * document keeps the distinct minima `fp` of its 4-shingle windows.
    * q56's per-doc fingerprints and q154's cross-doc overlap.
    */
  private def winnowFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 6)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(1, size(toks)-2), i -> " +
            "cast(conv(substring(md5(concat(element_at(toks,i),' ',element_at(toks,i+1),' ',element_at(toks,i+2))), 1, 15), 16, 10) as bigint))"))
          .as(Seq("pos", "h")))
      .withColumn("fp", min(col("h")).over(Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)))
      .select("doc_id", "fp").distinct()

  /** The DuckDB side of `winnowFingerprints`: `docs`, `sh` and `fps`,
    * whose window minima are named `fp`; no WITH.
    */
  private def winnowSql(fp: String): String = """
        docs AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
          FROM documents
          WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 6),
        sh AS (
          SELECT doc_id, i AS pos,
                 CAST('0x' || substr(md5(a[i] || ' ' || a[i+1] || ' ' || a[i+2]), 1, 15) AS BIGINT) AS h
          FROM docs CROSS JOIN LATERAL unnest(range(1, len(a) - 1)) AS t(i)),
        fps AS (
          SELECT DISTINCT doc_id,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS """ + fp + """
          FROM sh)"""

  def queries: Seq[(String, NamedQuery)] = Seq(

    // ---------------------------------------------------------------- q30
    // Token counting + quality scoring: whitespace tokens, char classes,
    // stopword ratio — length/punct/stopword quality heuristics.
    "q30_text_stats" -> NamedQuery(
      fn = (s, d) => {
        Tables.documents(s, d)
          .withColumn("n_tokens", TextOps.tokenCount(col("text")))
          .withColumn("n_punct", TextOps.punctCount(col("text")))
          .withColumn("n_stop", TextOps.stopwordCount(col("text")))
          .withColumn("avg_token_len", round(TextOps.avgTokenLen(col("text")), 6))
          .select("doc_id", "n_tokens", "n_punct", "n_stop", "avg_token_len")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(regexp_split_to_array(trim(text), '\s+'))
                  - len(regexp_split_to_array(trim(regexp_replace(' ' || text || ' ', ' (the|a|of|and|to|in) ', ' ', 'g')), '\s+')) AS BIGINT) AS n_stop,
               round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\s+')), 6) AS avg_token_len
        FROM documents
        ORDER BY doc_id"""),
      doc = "token count / quality scoring (north-star text analysis)"),

    // ---------------------------------------------------------------- q31
    // Language-ID heuristic: marker-token votes per language, argmax with
    // pinned tie-break; compared against the labeled lang column.
    "q31_langid" -> NamedQuery(
      fn = (s, d) => {
        withPredictedLang(Tables.documents(s, d))
          .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "pred_lang")
      },
      oracle = Some("""
        WITH""" + langVotesSql + """
        SELECT lang,
               """ + predLangSql + """,
               COUNT(*) AS n_docs
        FROM scored
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "n-gram-marker language ID heuristic (north-star)"),

    // ---------------------------------------------------------------- q32
    // Document fingerprinting: md5 content fingerprint (identical in
    // Spark and DuckDB) over normalized text + length histogram.
    "q32_fingerprint" -> NamedQuery(
      fn = (s, d) => {
        Tables.documents(s, d)
          .withColumn("fp", TextOps.fingerprint(col("text")))
          .withColumn("len_bucket", expr("n_chars div 100"))
          .select("doc_id", "fp", "len_bucket")
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id, md5(lower(trim(text))) AS fp,
               n_chars // 100 AS len_bucket
        FROM documents
        ORDER BY doc_id"""),
      doc = "md5 document fingerprint (north-star)"),

    // ---------------------------------------------------------------- q56
    // Winnowing (rolling-hash fingerprinting, MOSS-style): hash every
    // 3-token shingle, slide a 4-shingle window per document, keep the
    // window minimum — the selected hashes are the document's
    // fingerprints (robust to local edits, O(len) per doc). Fingerprints
    // are the first 60 bits of md5 as a LONG (winnowing's natural
    // integer-hash form, and the numeric min/max keep both the window
    // and the final agg hash-aggregable — string mins demote to
    // SortAggregate). Output: per-doc fingerprint-set stats (bounded).
    "q56_winnowing" -> NamedQuery(
      fn = (s, d) => {
        winnowFingerprints(Tables.documents(s, d))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_fingerprints"),
            min(col("fp")).as("min_fp"),
            max(col("fp")).as("max_fp"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH""" + winnowSql("win_min") + """
        SELECT doc_id, COUNT(*) AS n_fingerprints,
               MIN(win_min) AS min_fp, MAX(win_min) AS max_fp
        FROM fps
        GROUP BY doc_id
        ORDER BY doc_id"""),
      doc = "winnowing rolling-hash fingerprints (north-star)"),

    // ---------------------------------------------------------------- q82
    // PII redaction (north-star corpus compliance). The synthetic corpus
    // contains no PII, so known positives are INJECTED deterministically
    // (doc_id-derived email/phone/IP appended to the text — the same
    // construction on both engines), then TextOps.redactPii must remove
    // every one of them: the md5 is over the redacted text, and the
    // residual-PII count must be zero for all rows. Map-only; the regex
    // chain is RE2-compatible so Java and DuckDB agree on every match.
    "q82_pii_redaction" -> NamedQuery(
      fn = (s, d) => {
        import graft.ops.TextOps
        val synth = concat(
          col("text"),
          lit(" contact u"), col("doc_id"), lit("@ex-mail.com"),
          lit(" call 555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" from 10.0."), pmod(col("doc_id"), lit(256)), lit(".7"))
        Tables.documents(s, d)
          .withColumn("synth", synth)
          .withColumn("redacted", TextOps.redactPii(col("synth")))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("synth"), lit(TextOps.EmailRe), lit(0))).cast("long").as("n_email"),
            size(regexp_extract_all(col("synth"), lit(TextOps.Ipv4Re), lit(0))).cast("long").as("n_ip"),
            size(regexp_extract_all(col("redacted"), lit("[A-Za-z0-9._%+-]+@|[0-9]{3}-[0-9]{4}|[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"), lit(0)))
              .cast("long").as("n_residual_pii"),
            md5(col("redacted")).as("redacted_md5"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH synth AS (
          SELECT doc_id,
                 text || ' contact u' || doc_id || '@ex-mail.com'
                      || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' from 10.0.' || doc_id % 256 || '.7' AS s
          FROM documents),
        red AS (
          SELECT doc_id, s,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                   '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS r
          FROM synth)
        SELECT doc_id,
               CAST(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(s, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
               CAST(len(regexp_extract_all(r, '[A-Za-z0-9._%+-]+@|[0-9]{3}-[0-9]{4}|[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_residual_pii,
               md5(r) AS redacted_md5
        FROM red
        ORDER BY doc_id"""),
      doc = "PII redaction with injected known positives, residual must be zero (north-star)"),

    // --------------------------------------------------------------- q154
    // Cross-document winnowing overlap — MOSS's core move, and the
    // scalable stand-in for exact-substring dedup: q56's per-doc
    // winnowing fingerprints joined ACROSS documents on the fingerprint
    // value, so two docs sharing several selected windows share literal
    // runs of text. The scale discipline is the stop-fingerprint cap
    // (standard winnowing practice, same medicine as q86's boilerplate
    // threshold): fingerprints held by > 8 docs are template/boilerplate
    // and are excluded BEFORE the pair join, so each fingerprint bucket
    // contributes ≤ C(8,2) pairs and the join is keyed and bounded —
    // never quadratic in a duplicate cluster's size (the q148 lesson).
    // Overlap ratio = shared / min(|fp₁|, |fp₂|): containment, so a
    // short excerpt inside a long doc still scores high.
    "q154_winnow_overlap" -> NamedQuery(
      fn = (s, d) => {
        val fps = winnowFingerprints(Tables.documents(s, d))
          // 4 consumers (sizes, the stop-fp counts, both self-join
          // sides) and Catalyst reuses no exchange across the renamed
          // branches: without the cut the tokenize+hash+window+distinct
          // pipeline runs once PER consumer (4 parquet scans + 4 window
          // sorts in the before-plan). Lazy checkpoint: materialized by
          // the query's own terminal action, reclaimed by ContextCleaner
          // (the duplicateClusters lifetime rule).
          .localCheckpoint(false)
        val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
        // stop-fingerprint cap: shared-by-many = boilerplate, excluded
        val rare = fps.groupBy("fp").agg(count(lit(1)).as("ndocs"))
          .filter(col("ndocs") >= 2 && col("ndocs") <= 8)
        val scoped = fps.join(rare.select("fp"), Seq("fp"))
        val pairs = scoped.select(col("fp"), col("doc_id").as("d1"))
          .join(scoped.select(col("fp"), col("doc_id").as("d2")), Seq("fp"))
          .filter(col("d1") < col("d2"))
          .groupBy("d1", "d2").agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 2)
        pairs
          .join(sizes.select(col("doc_id").as("d1"), col("nfp").as("n1")), Seq("d1"))
          .join(sizes.select(col("doc_id").as("d2"), col("nfp").as("n2")), Seq("d2"))
          .withColumn("containment",
            round(col("shared").cast("double") / least(col("n1"), col("n2")), 6))
          .select("d1", "d2", "shared", "n1", "n2", "containment")
          .orderBy("d1", "d2")
      },
      oracle = Some("""
        WITH""" + winnowSql("fp") + """,
        sizes AS (SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY doc_id),
        rare AS (
          SELECT fp FROM (SELECT fp, COUNT(*) AS ndocs FROM fps GROUP BY fp)
          WHERE ndocs >= 2 AND ndocs <= 8),
        scoped AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
          FROM scoped a JOIN scoped b ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2
          HAVING COUNT(*) >= 2)
        SELECT p.d1, p.d2, p.shared, s1.nfp AS n1, s2.nfp AS n2,
               round(CAST(p.shared AS DOUBLE) / least(s1.nfp, s2.nfp), 6) AS containment
        FROM pairs p
        JOIN sizes s1 ON s1.doc_id = p.d1
        JOIN sizes s2 ON s2.doc_id = p.d2
        ORDER BY p.d1, p.d2"""),
      doc = "cross-doc winnowing overlap: MOSS-style shared-fingerprint pairs with a stop-fingerprint cap"),

    // --------------------------------------------------------------- q165
    // The third native sketch through the gate: space-saving heavy
    // hitters (expr/SpaceSaving, a TypedImperativeAggregate) over the
    // corpus token stream — constant-memory dominant-token profiling,
    // the op that replaces a vocabulary-sized exact aggregation at
    // 100 TB. The capacity (max(64, vocab), data-scaled) exceeds this
    // corpus's vocabulary at every SF, so
    // the sketch runs in its EXACT mode (every est = the true count,
    // every err = 0 — the bit-stable mode, mirroring q155's <k KMV
    // case) and DuckDB can hash-match est/err against exact GROUP BY
    // counts directly. The eviction path's guarantees are order-
    // dependent within published bands and are pinned by
    // SpaceSavingSpec under adversarial merge orders instead.
    "q165_heavy_hitters" -> NamedQuery(
      fn = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("item"))
        // exact-mode capacity is DATA-SCALED (round-10, verdict task 4 —
        // the ivfNlist precedent): k = max(64, vocab) keeps the sketch
        // in its bit-stable exact mode at EVERY scale factor instead of
        // fail-fasting when a larger corpus outgrows a constant k
        // (sf1's vocab is 310). One bounded 1-row pull (F5-class); the
        // oracle needs no mirror because exact-mode output is the exact
        // GROUP BY counts regardless of k. vocab == k is still exact:
        // the k-th distinct item inserts while buf.size == k-1;
        // eviction starts at the (k+1)-th. The eviction path itself is
        // gated by q168's error-bound check, not by hash parity.
        val vocab = toks.agg(countDistinct(col("item"))).head().getLong(0)
        val k = math.max(64L, vocab).toInt
        toks.agg(expr(s"heavy_hitters(item, $k)").as("hh"))
          .selectExpr("explode(hh) AS e")
          .select(col("e.item").as("tok"), col("e.est").as("est"), col("e.err").as("err"))
          .orderBy("tok")
      },
      oracle = Some("""
        WITH t AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents)
        SELECT tok, COUNT(*) AS est, CAST(0 AS BIGINT) AS err
        FROM t
        GROUP BY tok
        ORDER BY tok"""),
      doc = "native space-saving heavy-hitters aggregate, exact-mode hash-matched vs DuckDB group counts"),

    // --------------------------------------------------------------- q166
    // q165's GROUPED production shape: per-source dominant tokens via
    // one keyed aggregate — each group's buffer is ≤ k entries, so the
    // shuffle moves O(sources × k) whatever the corpus size (the
    // per-tenant/per-domain profiling query a 100 TB pipeline runs
    // daily). Still the exact mode (k data-scaled past the per-source
    // vocabulary), so
    // est/err hash-match DuckDB's per-source counts; the top-3
    // projection exercises the sketch's (est desc, item asc) result
    // order through element_at.
    "q166_heavy_hitters_by_source" -> NamedQuery(
      fn = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("item"))
        // per-source exact-mode capacity, data-scaled like q165's
        // (round-10, verdict task 4): k = max(64, max per-source vocab)
        val maxVocab = toks.groupBy("source").agg(countDistinct(col("item")).as("v"))
          .agg(max(col("v"))).head().getLong(0)
        val k = math.max(64L, maxVocab).toInt
        toks.groupBy("source")
          .agg(expr(s"heavy_hitters(item, $k)").as("hh"))
          .select(col("source"),
            col("hh")(0).getField("item").as("top1"),
            col("hh")(0).getField("est").as("n1"),
            col("hh")(1).getField("item").as("top2"),
            col("hh")(1).getField("est").as("n2"),
            col("hh")(2).getField("item").as("top3"),
            col("hh")(2).getField("est").as("n3"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH t AS (
          SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        c AS (
          SELECT source, tok, COUNT(*) AS n,
                 row_number() OVER (PARTITION BY source ORDER BY COUNT(*) DESC, tok) AS r
          FROM t GROUP BY source, tok)
        SELECT source,
               MAX(CASE WHEN r = 1 THEN tok END) AS top1,
               MAX(CASE WHEN r = 1 THEN n END) AS n1,
               MAX(CASE WHEN r = 2 THEN tok END) AS top2,
               MAX(CASE WHEN r = 2 THEN n END) AS n2,
               MAX(CASE WHEN r = 3 THEN tok END) AS top3,
               MAX(CASE WHEN r = 3 THEN n END) AS n3
        FROM c
        GROUP BY source
        ORDER BY source"""),
      doc = "per-source heavy hitters (grouped native sketch, O(sources x k) shuffle), exact-mode vs DuckDB ranked counts"),

    // --------------------------------------------------------------- q168
    // The sketch trio's APPROXIMATE path through the gate (round-9
    // verdict task 4): heavy_hitters at capacity k=8 < vocabulary (~31),
    // so eviction genuinely runs, then the published space-saving
    // guarantees are checked as RELATIONAL assertions against exact
    // counts — the raw estimates are merge-order-dependent (can differ
    // across partitionings within the bands, SpaceSaving scaladoc), so
    // the DETERMINISTIC gate output is the guarantee scoreboard:
    //  - presence: every item with true count > n/k is in the sketch
    //    (n_heavy_missing = 0);
    //  - band: every tracked estimate is within n/k of its true count
    //    (n_band_violations = 0);
    //  - size: exactly k entries survive.
    // DuckDB computes the same scoreboard from exact GROUP BY counts
    // (where the sketch side is provably forced to 0 violations, the
    // oracle hard-codes the 0 — the hash match fails if Spark ever
    // reports otherwise). This is the gate the exact-mode q165 cannot
    // provide: it exercises evictMin, over-estimate inheritance, and
    // the truncating merge.
    "q168_heavy_hitters_bounds" -> NamedQuery(
      fn = (s, d) => {
        val k = 8
        val toks = Tables.documents(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("item"))
        val exact = toks.groupBy("item").agg(count(lit(1)).as("true_n"))
        val sk = toks.agg(expr(s"heavy_hitters(item, $k)").as("hh"))
          .selectExpr("explode(hh) AS e")
          .select(col("e.item").as("item"), col("e.est").as("est"))
        val n = toks.agg(count(lit(1)).as("n_tokens"))
        // scoreboard: all frames here are ≤ |vocab| rows (post-aggregate)
        val joined = sk.join(exact, Seq("item")).crossJoin(broadcast(n))
        val bandViolations = joined
          .filter(abs(col("est") - col("true_n")) > col("n_tokens") / k)
          .agg(count(lit(1)).as("n_band_violations"))
        val heavyMissing = exact.crossJoin(broadcast(n))
          .filter(col("true_n") > col("n_tokens") / k)
          .join(sk, Seq("item"), "left_anti")
          .agg(count(lit(1)).as("n_heavy_missing"))
        val entries = sk.agg(count(lit(1)).as("n_entries"))
        n.crossJoin(broadcast(entries))
          .crossJoin(broadcast(heavyMissing))
          .crossJoin(broadcast(bandViolations))
          .withColumn("k", lit(k.toLong))
          .select("n_tokens", "k", "n_entries", "n_heavy_missing", "n_band_violations")
      },
      oracle = Some("""
        WITH t AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        exact AS (SELECT tok, COUNT(*) AS true_n FROM t GROUP BY tok),
        n AS (SELECT COUNT(*) AS n_tokens FROM t)
        SELECT n.n_tokens,
               CAST(8 AS BIGINT) AS k,
               CAST(8 AS BIGINT) AS n_entries,
               CAST(0 AS BIGINT) AS n_heavy_missing,
               CAST(0 AS BIGINT) AS n_band_violations
        FROM n"""),
      doc = "approximate heavy-hitters gate: space-saving presence + error-band guarantees as relational assertions vs exact counts (eviction path exercised)"),

    // --------------------------------------------------------------- q179
    // The fourth native sketch through the gate: count-min
    // (expr/CountMin, d = 4 × w = 32 counters) over the corpus token
    // stream, answering point-frequency queries in constant memory —
    // the companion to q165's "which items dominate". Count-min's
    // counter table is a deterministic function of the input MULTISET
    // (update = increment, merge = element-wise add), so unlike
    // space-saving's eviction mode the approximate path itself is
    // bit-stable under any partitioning — and the oracle can recompute
    // every bucket sum RELATIONALLY from exact counts (same
    // Carter-Wegman md5 double-hash as the minhash family) and
    // hash-match the estimates exactly. w = 32 < vocabulary forces real
    // collisions: the gate exercises genuine over-counts and proves the
    // one-sided guarantee (est ≥ true, est ≤ true + ε·n) rather than a
    // degenerate exact mode.
    "q179_count_min_gate" -> NamedQuery(
      fn = (s, d) => {
        val w = 32
        val toks = Tables.documents(s, d)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        val sk = toks.agg(expr(s"count_min(tok, $w)").as("cm"))
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("true_n"))
        // the native codegen'd point-query probe (expr/CmQuery) — the
        // consumer half of the sketch API; the ORACLE still recomputes
        // the same bucket minima relationally, so the hash-match proves
        // aggregate AND probe together
        exact.crossJoin(broadcast(sk))
          .withColumn("est", expr(s"cm_query(cm, tok, $w)"))
          .select(col("tok"), col("true_n"), col("est"),
            (col("est") - col("true_n")).as("overcount"))
          .orderBy("tok")
      },
      oracle = Some("""
        WITH t AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        exact AS (SELECT tok, COUNT(*) AS true_n FROM t GROUP BY tok),
        h AS (
          SELECT tok, true_n,
                 CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h1,
                 CAST('0x' || substr(md5(tok), 17, 15) AS BIGINT) AS h2
          FROM exact),
        g AS (
          SELECT tok, true_n, r,
                 (h1 + r * h2) % 2305843009213693951 % 32 AS bucket
          FROM h CROSS JOIN generate_series(0, 3) s(r)),
        cells AS (
          SELECT r, bucket, CAST(SUM(true_n) AS BIGINT) AS cell
          FROM g GROUP BY r, bucket),
        est AS (
          SELECT g.tok, g.true_n, MIN(c.cell) AS est
          FROM g JOIN cells c ON c.r = g.r AND c.bucket = g.bucket
          GROUP BY g.tok, g.true_n)
        SELECT tok, true_n, est, est - true_n AS overcount
        FROM est
        ORDER BY tok"""),
      doc = "count-min sketch gate: native d x w frequency sketch whose estimates the oracle recomputes relationally — exact parity on the approximate path (north-star)"),

    // --------------------------------------------------------------- q180
    // Character-entropy quality signal (the Gopher-family filter that
    // kills mojibake/binary-junk docs): per-doc Shannon entropy of the
    // character distribution, in bits. One keyed aggregation to
    // (doc_id, ch) counts, one back to doc_id — both partial-aggregated.
    // Float-sum parity: H = −(1/nt)·Σ n·log2(n/nt) with log2 snapped to
    // integer MILLIONTHS (round(log2·1e6, 0) — a tie there would need
    // log2(p) to sit exactly on a half-millionth, which these
    // irrational logs never do; the per-term round(p·lg, 6) idiom DOES
    // land on decimal .5 ties for low-precision p and splits between
    // Spark's HALF_UP and DuckDB's float round). The n·lg6 sum is exact
    // long arithmetic — order-independent under any partitioning — and
    // the single final division is one deterministic IEEE op.
    "q180_char_entropy" -> NamedQuery(
      fn = (s, d) => {
        val chars = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        val counts = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("n"))
        val tots = counts.groupBy("doc_id").agg(sum(col("n")).as("nt"))
        counts.join(tots, Seq("doc_id"))
          .withColumn("lg6",
            round(log(2.0, col("n").cast("double") / col("nt")) * 1e6, 0).cast("long"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_char_types"),
            max(col("nt")).as("nt_max"),
            sum(col("n") * col("lg6")).as("num"))
          // final half-up rounding to micro-bits in PURE long arithmetic:
          // (2·(−num) + nt) div (2·nt). A float round here re-opens the
          // tie hazard — num/nt CAN land exactly on a half-millionth
          // (observed at sf1), and Spark HALF_UP vs DuckDB float round
          // then split. micro < 2^53, so micro/1e6 is the same IEEE
          // double on both engines.
          .select(col("doc_id"), col("n_char_types"),
            col("nt_max").as("n_chars_tot"),
            (expr("(2 * -num + nt_max) div (2 * nt_max)").cast("double") / 1e6)
              .as("entropy_bits"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH chars AS (
          SELECT doc_id, unnest(string_split(text, '')) AS ch
          FROM documents),
        counts AS (
          SELECT doc_id, ch, COUNT(*) AS n FROM chars GROUP BY 1, 2),
        tots AS (
          SELECT doc_id, CAST(SUM(n) AS BIGINT) AS nt FROM counts GROUP BY 1),
        terms AS (
          SELECT c.doc_id, t.nt, c.n,
                 CAST(round(log2(CAST(c.n AS DOUBLE) / t.nt) * 1e6, 0) AS BIGINT) AS lg6
          FROM counts c JOIN tots t ON c.doc_id = t.doc_id)
        SELECT doc_id, COUNT(*) AS n_char_types,
               MAX(nt) AS n_chars_tot,
               CAST((2 * -SUM(n * lg6) + MAX(nt)) // (2 * MAX(nt)) AS DOUBLE) / 1e6 AS entropy_bits
        FROM terms
        GROUP BY doc_id
        ORDER BY doc_id"""),
      doc = "character-entropy quality signal: per-doc Shannon entropy in bits, order-independent decimal sum (north-star)"),

    // --------------------------------------------------------------- q181
    // Top-2-gram repetition fraction (the Gopher repetition rule): the
    // share of a doc's tokens covered by its single most frequent
    // bigram — boilerplate/spam docs score high and get cut. Bigram
    // generation is per-row array algebra (transform over an index
    // sequence — NO shuffle until the (doc, bigram) count), the argmax
    // is one topKPerGroup with the tie pinned (count desc, bigram asc).
    // The `size >= 2` guard makes the contract data-independent (Spark's
    // sequence(1, 0) would DESCEND, not return empty).
    "q181_rep_bigram" -> NamedQuery(
      fn = (s, d) => {
        val bi = Tables.documents(s, d)
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("arr"))
          .filter(size(col("arr")) >= 2)
          .withColumn("n_tokens", size(col("arr")).cast("long"))
          .withColumn("bg", explode(expr(
            "transform(sequence(1, size(arr) - 1), i -> concat(element_at(arr, i), ' ', element_at(arr, i + 1)))")))
          .groupBy(col("doc_id"), col("n_tokens"), col("bg"))
          .agg(count(lit(1)).as("n"))
        graft.ops.RelationalOps.topKPerGroup(
            Seq("doc_id"), Seq(col("n").desc, col("bg").asc), 1)(bi)
          .select(col("doc_id"), col("n_tokens"),
            col("bg").as("top_bigram"), col("n").as("top_n"),
            round(lit(2.0) * col("n") / col("n_tokens"), 6).as("rep_fraction"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents),
        b AS (
          SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_tokens,
                 unnest(list_transform(range(1, len(arr)),
                        i -> arr[i] || ' ' || arr[i + 1])) AS bg
          FROM d
          WHERE len(arr) >= 2),
        c AS (
          SELECT doc_id, n_tokens, bg, COUNT(*) AS n
          FROM b GROUP BY 1, 2, 3),
        top AS (
          SELECT doc_id, n_tokens, bg AS top_bigram, n AS top_n,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY n DESC, bg ASC) AS rn
          FROM c)
        SELECT doc_id, n_tokens, top_bigram, top_n,
               round(2.0 * top_n / n_tokens, 6) AS rep_fraction
        FROM top
        WHERE rn = 1
        ORDER BY doc_id"""),
      doc = "Gopher repetition rule: per-doc token share of the most frequent bigram, pinned argmax (north-star)"),

    // --------------------------------------------------------------- q188
    // Cohen's kappa for the q31 language-ID heuristic vs the labeled
    // lang column — chance-corrected agreement, the classifier-audit
    // number a raw accuracy hides (a degenerate predictor scores po > 0
    // by class imbalance alone; kappa exposes it — on this synthetic
    // corpus the heuristic lands at exactly chance, kappa = 0, which is
    // itself the finding). Everything reduces to ONE confusion-count
    // frame (checkpointed, consumed by all four scalar legs); the
    // p_o/p_e/kappa doubles are emitted UNROUNDED — ratios and
    // arithmetic of identical integers are bit-identical IEEE in both
    // engines, so no rounding (and no rounding-tie hazard) is needed.
    "q188_langid_kappa" -> NamedQuery(
      fn = (s, d) => {
        val counts = withPredictedLang(Tables.documents(s, d))
          .groupBy("lang", "pred_lang").agg(count(lit(1)).as("c"))
          .localCheckpoint(false)
        val n = counts.agg(sum(col("c")).as("n"))
        val agree = counts.filter(col("lang") === col("pred_lang"))
          .agg(coalesce(sum(col("c")), lit(0L)).as("agree"))
        val cross = counts.groupBy(col("lang").as("cls")).agg(sum(col("c")).as("n_true"))
          .join(counts.groupBy(col("pred_lang").as("cls")).agg(sum(col("c")).as("n_pred")), Seq("cls"))
          .agg(coalesce(sum(col("n_true") * col("n_pred")), lit(0L)).as("cross_sum"))
        n.crossJoin(broadcast(agree)).crossJoin(broadcast(cross))
          .withColumn("p_o", col("agree").cast("double") / col("n"))
          .withColumn("p_e", col("cross_sum").cast("double") / (col("n") * col("n")))
          .withColumn("kappa",
            when(col("p_e") === 1.0, lit(null).cast("double"))
              .otherwise((col("p_o") - col("p_e")) / (lit(1.0) - col("p_e"))))
          .select("n", "agree", "cross_sum", "p_o", "p_e", "kappa")
      },
      oracle = Some("""
        WITH""" + langVotesSql + """,
        counts AS (
          SELECT lang,
                 """ + predLangSql + """,
                 COUNT(*) AS c
          FROM scored GROUP BY 1, 2),
        nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
        ag AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS agree
               FROM counts WHERE lang = pred_lang),
        cr AS (
          SELECT CAST(COALESCE(SUM(n_true * n_pred), 0) AS BIGINT) AS cross_sum
          FROM (SELECT lang AS cls, SUM(c) AS n_true FROM counts GROUP BY 1) l
          JOIN (SELECT pred_lang AS cls, SUM(c) AS n_pred FROM counts GROUP BY 1) p USING (cls))
        SELECT nn.n, ag.agree, cr.cross_sum,
               CAST(ag.agree AS DOUBLE) / nn.n AS p_o,
               CAST(cr.cross_sum AS DOUBLE) / (nn.n * nn.n) AS p_e,
               CASE WHEN CAST(cr.cross_sum AS DOUBLE) / (nn.n * nn.n) = 1 THEN NULL
                    ELSE (CAST(ag.agree AS DOUBLE) / nn.n - CAST(cr.cross_sum AS DOUBLE) / (nn.n * nn.n))
                         / (1 - CAST(cr.cross_sum AS DOUBLE) / (nn.n * nn.n)) END AS kappa
        FROM nn, ag, cr"""),
      doc = "Cohen's kappa for the language-ID heuristic: chance-corrected agreement from one confusion frame, unrounded bit-exact IEEE parity (classifier audit)"),

    // --------------------------------------------------------------- q201
    // Jensen-Shannon divergence of each source's unigram distribution
    // from the corpus distribution — the corpus-drift audit ("which
    // ingest source no longer looks like the rest?"), the symmetric,
    // bounded alternative to raw KL. All inputs are exact integer
    // counts from token-keyed aggregations; per-(source,token) terms
    // 0.5·p·ln(p/m) + 0.5·q·ln(q/m) (m the mixture) are one IEEE chain
    // each, floor-micro'd before the per-source sum (q191 recipe) so
    // the sum is order-independent. The (source × vocab) grid is a
    // broadcast of the vocab frame — at 100 TB vocab-keyed counts
    // shuffle on token, the grid stays |sources|·|vocab|, and missing
    // (source,token) cells enter with p = 0 (their q·ln2 mass is what
    // penalizes coverage gaps).
    "q201_js_divergence" -> NamedQuery(
      fn = (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        val srcTok = toks.groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
        val srcTot = srcTok.groupBy("source").agg(sum(col("c_st")).as("n_s"))
        val corpTok = srcTok.groupBy("tok").agg(sum(col("c_st")).as("c_t"))
        val corpTot = corpTok.agg(sum(col("c_t")).as("n"))
        srcTot.crossJoin(broadcast(corpTok))
          .join(srcTok, Seq("source", "tok"), "left")
          .na.fill(0L, Seq("c_st"))
          .crossJoin(broadcast(corpTot))
          .withColumn("p", col("c_st").cast("double") / col("n_s"))
          .withColumn("q", col("c_t").cast("double") / col("n"))
          .withColumn("m", (col("p") + col("q")) / lit(2.0))
          .withColumn("term",
            when(col("c_st") > 0, lit(0.5) * col("p") * log(col("p") / col("m")))
              .otherwise(lit(0.0)) +
              lit(0.5) * col("q") * log(col("q") / col("m")))
          .withColumn("term_micro", floor(col("term") * 1e6).cast("long"))
          .groupBy("source")
          .agg(max(col("n_s")).as("n_s"), sum(col("term_micro")).as("jsd_micro"))
          .withColumn("jsd", col("jsd_micro").cast("double") / 1e6)
          .select("source", "n_s", "jsd_micro", "jsd")
          .orderBy("source")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM documents),
        st AS (SELECT source, tok, COUNT(*) AS c_st FROM toks GROUP BY 1, 2),
        stot AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        ct AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
        nn AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n FROM ct),
        grid AS (
          SELECT s.source, s.n_s, c.tok, c.c_t, nn.n,
                 COALESCE(t.c_st, 0) AS c_st
          FROM stot s CROSS JOIN ct c CROSS JOIN nn
          LEFT JOIN st t ON t.source = s.source AND t.tok = c.tok),
        terms AS (
          SELECT source, n_s,
                 CAST(floor((
                   CASE WHEN c_st > 0
                        THEN 0.5 * (CAST(c_st AS DOUBLE) / n_s)
                             * ln((CAST(c_st AS DOUBLE) / n_s)
                                  / ((CAST(c_st AS DOUBLE) / n_s + CAST(c_t AS DOUBLE) / n) / 2.0))
                        ELSE 0.0 END
                   + 0.5 * (CAST(c_t AS DOUBLE) / n)
                     * ln((CAST(c_t AS DOUBLE) / n)
                          / ((CAST(c_st AS DOUBLE) / n_s + CAST(c_t AS DOUBLE) / n) / 2.0))
                 ) * 1e6) AS BIGINT) AS term_micro
          FROM grid)
        SELECT source, MAX(n_s) AS n_s,
               CAST(SUM(term_micro) AS BIGINT) AS jsd_micro,
               CAST(SUM(term_micro) AS DOUBLE) / 1e6 AS jsd
        FROM terms
        GROUP BY source
        ORDER BY source"""),
      doc = "Jensen-Shannon corpus-drift audit per source: integer-count distributions, floor-micro IEEE term sum over the broadcast vocab grid (DQ audit)")
  )
}
