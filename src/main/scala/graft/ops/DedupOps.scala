package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reusable MinHash/LSH machinery (north-star dedup). Hash primitive is
  * the first 60 bits of md5 as a LONG (`conv(substr(md5, 1, 15), 16, 10)`;
  * DuckDB mirrors it as `CAST('0x' || substr(md5, 1, 15) AS BIGINT)`) —
  * identical in Spark and DuckDB, so every derived query stays
  * oracle-checkable, and NUMERIC so the signature aggregation keeps
  * fixed-width mutable buffers: Catalyst plans it as HashAggregate
  * (string mins fall back to SortAggregate — a per-partition sort of the
  * exploded token table, the dominant cost at corpus scale). All stages
  * key on doc_id (+ optional scope columns): keyed shuffles only, no
  * all-pairs anywhere.
  */
object DedupOps {

  /** The near-dup family's LSH shape: k = 8 signatures in bands of 2 —
    * the decision the DuckDB oracles spell `generate_series(0, 7)` and
    * `seed // 2` (DedupQueries.minhashBandsSql).
    */
  val SignatureCount = 8
  val RowsPerBand = 2

  /** First 60 bits of md5(s) as a non-negative long — the hash-aggregable
    * minhash primitive (15 hex digits < 2^60, so the cast is exact).
    */
  private def md5Long(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Carter–Wegman double hashing: the k minhash functions are
    * h_i(tok) = (h1 + i·h2) mod (2^61−1), where h1/h2 are the
    * first/second 60-bit halves of ONE md5 (hex digits 1-15 and
    * 17-31). One md5 per token row instead of k — md5 is the dominant
    * per-row cost of the whole LSH family, so this cuts the
    * tokenize+sign stage ~k×. The Mersenne-prime mod is what makes the
    * k functions behave independently (without it a token minimizing
    * both halves wins every seed at once — measured recall fell 0.91 →
    * 0.64); with it DedupRecallSpec measures the same recall as k
    * independent md5s. No overflow anywhere: h1 + i·h2 ≤ 8·(2^60−1) <
    * 2^63−1 for i ≤ 7, so Spark's long arithmetic and DuckDB's
    * overflow-checked BIGINT agree exactly, and both engines' `%` on
    * positive operands is the same mathematical mod.
    */
  val MersennePrime61: Long = (1L << 61) - 1
  private def h60(hex: org.apache.spark.sql.Column, from: Int): org.apache.spark.sql.Column =
    conv(substring(hex, from, 15), 16, 10).cast("long")

  /** toks + `__h1`/`__h2` projected ONCE (one md5 per row; seeds then
    * cost only long arithmetic).
    */
  private def withTokenHashes(toks: DataFrame): DataFrame =
    toks.withColumn("__md5", md5(col("tok")))
      .withColumn("__h1", h60(col("__md5"), 1))
      .withColumn("__h2", h60(col("__md5"), 17))
      .drop("__md5")

  /** Distinct (scope…, doc_id, tok) unigrams of a text column. doc_id is
    * unique, so the per-row `array_distinct` before the explode IS the
    * global distinct — no shuffle at all (an `explode().distinct()`
    * would shuffle every token row).
    */
  def tokenSet(docs: DataFrame, textCol: String, scopeCols: Seq[String])(implicit s: SparkSession): DataFrame =
    docs.select((scopeCols :+ "doc_id").map(col) :+
      explode(array_distinct(split(trim(col(textCol)), "\\s+"))).as("tok"): _*)

  /** k numeric-min signatures per doc: min(h1 + seed·h2). */
  def minhashSignatures(toks: DataFrame, k: Int, scopeCols: Seq[String])(implicit s: SparkSession): DataFrame = {
    require(k <= 8, s"k=$k: seeds past 7 overflow h1 + seed*h2 beyond 2^63")
    val seeds = s.range(k.toLong).select(col("id").as("seed"))
    withTokenHashes(toks).crossJoin(broadcast(seeds))
      .groupBy((scopeCols ++ Seq("doc_id", "seed")).map(col): _*)
      .agg(min((col("__h1") + col("seed") * col("__h2")) % MersennePrime61).as("mh"))
  }

  /** LSH bands of `rowsPerBand` signatures → one band_hash per (doc, band).
    * The decimal renderings are '#'-separated (variable width, unlike the
    * old fixed-width hex concat) so distinct (min, max) pairs can't
    * collide on concatenation.
    */
  def lshBands(sig: DataFrame, rowsPerBand: Int, scopeCols: Seq[String]): DataFrame =
    sig.withColumn("band", expr(s"seed div $rowsPerBand"))
      .groupBy((scopeCols ++ Seq("doc_id", "band")).map(col): _*)
      .agg(md5(concat(min(col("mh")).cast("string"), lit("#"),
        max(col("mh")).cast("string"))).as("band_hash"))

  /** Fused [[minhashSignatures]]+[[lshBands]]: all k signature mins as
    * agg columns of ONE groupBy (map-side partial combine, no k× row
    * fan-out), band hashes derived with least/greatest (band min/max
    * over `rowsPerBand` signature columns), then unpivoted to the same
    * (scope…, doc_id, band, band_hash) long form. One keyed shuffle
    * carrying |docs| rows instead of two carrying k·|docs| — the shape
    * that holds at 100 TB. Semantics identical to the two-step path
    * (DedupRecallSpec pins the equivalence).
    */
  def bandHashes(toks: DataFrame, k: Int, rowsPerBand: Int, scopeCols: Seq[String]): DataFrame =
    bandHashesFromWide(minhashSignaturesWide(toks, k, scopeCols), k, rowsPerBand, scopeCols)

  /** All k signature mins as columns of ONE keyed aggregate —
    * (scope…, doc_id, mh0..mh{k-1}). The map-side-combining wide form
    * behind [[bandHashes]], exposed so a query that needs BOTH the band
    * hashes and the per-seed signatures (q148's estimator audit)
    * computes the aggregate once instead of paying [[minhashSignatures]]'
    * k× row fan-out a second time. `mh{i}` here is bit-identical to the
    * long form's `mh` at `seed = i` (same expression, same groups).
    */
  def minhashSignaturesWide(toks: DataFrame, k: Int, scopeCols: Seq[String]): DataFrame = {
    require(k <= 8, s"k=$k: seeds past 7 overflow h1 + seed*h2 beyond 2^63")
    val mins = (0 until k).map(seed =>
      min((col("__h1") + lit(seed.toLong) * col("__h2")) % MersennePrime61).as(s"mh$seed"))
    withTokenHashes(toks)
      .groupBy((scopeCols :+ "doc_id").map(col): _*).agg(mins.head, mins.tail: _*)
  }

  /** [[bandHashes]]' band derivation over an already-computed wide
    * signature frame (see [[minhashSignaturesWide]]).
    */
  def bandHashesFromWide(sig: DataFrame, k: Int, rowsPerBand: Int, scopeCols: Seq[String]): DataFrame = {
    require(k % rowsPerBand == 0, s"k=$k not divisible by rowsPerBand=$rowsPerBand")
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val cs = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i"))
      struct(lit(b.toLong).as("band"),
        md5(concat(least(cs: _*).cast("string"), lit("#"),
          greatest(cs: _*).cast("string"))).as("band_hash"))
    }
    sig.select((scopeCols :+ "doc_id").map(col) :+
      explode(array(bandStructs: _*)).as("bb"): _*)
      .select((scopeCols :+ "doc_id").map(col) :+ col("bb.band").as("band") :+
        col("bb.band_hash").as("band_hash"): _*)
  }

  /** Distinct candidate pairs (d1 < d2) sharing any band bucket within
    * the same scope — the bounded-shuffle alternative to all-pairs.
    */
  def candidatePairs(bands: DataFrame, scopeCols: Seq[String]): DataFrame = {
    val joinCols = scopeCols ++ Seq("band", "band_hash")
    val b1 = bands.select((joinCols :+ "doc_id").map(col): _*).withColumnRenamed("doc_id", "d1")
    val b2 = bands.select((joinCols :+ "doc_id").map(col): _*).withColumnRenamed("doc_id", "d2")
    b1.join(b2, joinCols).filter(col("d1") < col("d2")).select("d1", "d2").distinct()
  }

  // ------------------------------------------------------- prefix filter
  // Exact Jaccard THRESHOLD join via rarest-first prefix filtering
  // (Chaudhuri et al. SSJoin 2006 / Bayardo et al. All-Pairs WWW'07 /
  // Xiao et al. PPJoin WWW'08) — the scale-safe EXACT alternative to
  // both the LSH candidate path (probabilistic recall) and the
  // any-shared-token join (quadratic on one boilerplate token). The
  // threshold is a RATIONAL p/q so every gate is integer arithmetic:
  // no float boundary anywhere, hence bit-stable under any partitioning.

  /** Prefix rows for J ≥ p/q: each (doc, tok) joined with the token's
    * scoped document frequency, ranked within its doc by (df asc, tok
    * asc) — the canonical rarest-first total order — keeping only
    * pos ≤ n − ⌈(p/q)·n⌉ + 1. Guarantee (witness argument): for any
    * pair with J ≥ p/q, the intersection o satisfies o ≥ ⌈(p/q)·n⌉ for
    * BOTH docs (o/u ≥ p/q and u ≥ n), and the SMALLEST shared token
    * under the global order must sit inside both prefixes — were it
    * outside doc A's prefix, fewer than o elements of A could remain
    * at-or-after it, yet all o intersection elements do. So the
    * prefix⋈prefix join has perfect recall at the threshold (the
    * brute-force oracles of q212/q213 prove it by hash equality).
    *
    * Scale shape: the df join keys on (scope, tok) — high cardinality,
    * even partitions; the rank window partitions by doc_id (bounded
    * rows per doc). Candidates concentrate on LOW-df tokens by
    * construction: boilerplate tokens sort into suffixes and never
    * generate a pair, which is the structural fix for the hot-bucket
    * quadratic the any-shared-token join suffers.
    */
  def prefixRows(toks: DataFrame, scopeCols: Seq[String], p: Int, q: Int): DataFrame = {
    require(p > 0 && q > 0 && p <= q, s"threshold p/q must be in (0,1]: $p/$q")
    import org.apache.spark.sql.expressions.Window
    val keys = scopeCols :+ "tok"
    // df and n as WINDOW counts instead of groupBy-aggregates joined
    // back: the former shape shuffled the token table once for the df
    // aggregate, twice more through the sort-merge df join, once for
    // the rank window and once more for the sizes join — five exchanges
    // of (scope, tok)-width rows. The window form is two exchanges
    // total: one keyed (scope…, tok) for df, one keyed doc_id that the
    // rank and size windows SHARE (same partition key; Catalyst stacks
    // them over a single Exchange — guide §2.4 "window functions
    // partitioned by the same key need no second shuffle"). Counts per
    // key/doc are the same values the aggregates produced. The null-key
    // filter reproduces the inner df-join's semantics exactly (a join
    // with an aggregate of the SAME table keeps every non-null-keyed
    // row and drops null keys; window counts alone would keep them).
    val notNullKeys = keys.map(col(_).isNotNull).reduce(_ && _)
    val wDf = Window.partitionBy(keys.map(col): _*)
    val wDoc = Window.partitionBy("doc_id")
    toks.filter(notNullKeys)
      .withColumn("df", count(lit(1)).over(wDf))
      .withColumn("pos",
        row_number().over(wDoc.orderBy(col("df"), col("tok"))).cast("long"))
      .withColumn("n", count(lit(1)).over(wDoc))
      .filter(expr(s"pos <= n - (($p * n + ${q - 1}) div $q) + 1"))
  }

  /** Distinct candidate pairs from the prefix⋈prefix join, with the
    * length filter J ≥ p/q implies (q·min(n1,n2) ≥ p·max(n1,n2)).
    * Scope columns ride through for per-scope audits.
    */
  def prefixCandidates(pre: DataFrame, scopeCols: Seq[String], p: Int, q: Int): DataFrame = {
    val keys = scopeCols :+ "tok"
    val p1 = pre.select((keys.map(col) :+ col("doc_id").as("d1") :+ col("n").as("n1")): _*)
    val p2 = pre.select((keys.map(col) :+ col("doc_id").as("d2") :+ col("n").as("n2")): _*)
    p1.join(p2, keys)
      .filter(col("d1") < col("d2"))
      .filter(lit(q.toLong) * least(col("n1"), col("n2")) >=
        lit(p.toLong) * greatest(col("n1"), col("n2")))
      .select((scopeCols.map(col) :+ col("d1") :+ col("d2")): _*).distinct()
  }

  /** Exact intersection verify on prefix candidates: `jaccardExploded`
    * per scope, thresholded in INTEGER math — J ≥ p/q ⟺
    * (p+q)·c ≥ p·(n1+n2).
    */
  def verifyJaccardThreshold(toks: DataFrame, candidates: DataFrame,
      scopeCols: Seq[String], p: Int, q: Int): DataFrame =
    jaccardExploded(toks, candidates, scopeCols)
      .filter(lit((p + q).toLong) * col("c") >= lit(p.toLong) * (col("n1") + col("n2")))

  /** The full exact threshold join: emit every same-scope pair with
    * Jaccard ≥ p/q over the (doc_id, scope..., tok) set relation —
    * unguarded, because the prefix filter bounds candidate generation
    * structurally instead of by fail-fast.
    */
  def jaccardThresholdJoin(toks: DataFrame, scopeCols: Seq[String], p: Int, q: Int): DataFrame =
    verifyJaccardThreshold(toks, prefixCandidates(prefixRows(toks, scopeCols, p, q),
      scopeCols, p, q), scopeCols, p, q)

  /** Exact unigram Jaccard on a candidate pair list, exploded-join
    * form: intersection counts come from joining the (doc, tok) table
    * onto the candidates and hash-aggregating — compact fixed-width
    * shuffle rows, no per-pair array work. `scopeCols` of the candidate
    * list ride through as leading output columns.
    */
  def jaccardExploded(toks: DataFrame, candidates: DataFrame,
      scopeCols: Seq[String] = Seq.empty): DataFrame = {
    val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val t1 = toks.select(col("doc_id").as("d1"), col("tok"))
    val t2 = toks.select(col("doc_id").as("d2"), col("tok"))
    candidates.join(t1, Seq("d1")).join(t2, Seq("d2", "tok"))
      .groupBy((scopeCols ++ Seq("d1", "d2")).map(col): _*).agg(count(lit(1)).as("c"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), Seq("d2"))
      .withColumn("jacc",
        // exact rational cnt/union rounded half-away in integer math
        // (PARITY rule 4 fix 2): round(double, 6) splits engines when
        // the true rational lands on a decimal micro-midpoint (q70 hit
        // one at sf1; unions divisible by 2^7*5^j make them reachable)
        expr("(2 * 1000000 * c + (n1 + n2 - c)) div (2 * (n1 + n2 - c))")
          .cast("double") / lit(1e6))
      .select((scopeCols ++ Seq("d1", "d2", "c", "n1", "n2", "jacc")).map(col): _*)
  }

  /** The near-dup EDGE derivation the whole graph family shares —
    * tokenize → band-hash → candidate pairs → exact-Jaccard verify,
    * returning verified edges (d1 < d2, jacc >= threshold, rounded to 6
    * decimals). q50 reports these edges directly; q55/q117 cluster
    * them, q116 censuses their triangles, q122 PageRanks them — one
    * derivation, five consumers, instead of five hand-copied pipelines.
    *
    * Resource discipline: the token table is persisted ONLY for the
    * duration of this call — the returned edge frame is EAGERLY
    * materialized (localCheckpoint) while the tokens are hot, then the
    * tokens are unpersisted in a finally. Callers get a compact,
    * lineage-free edge table they can branch over as many times as they
    * like (degree aggregates, wedge joins, label propagation rounds)
    * with no recomputation and no persist left behind for a harness to
    * clean. The eager action inside the op is the price of that pairing
    * — the same trade duplicateClusters makes for its convergence
    * counts, and it is timed inside the query that calls it.
    *
    * At 100 TB: every stage is keyed (doc_id / band bucket / pair) —
    * the only all-pairs-shaped step is the band-bucket self-join, whose
    * fan-out is bounded by bucket width, not corpus size. The edge set
    * itself is the near-dup rate times the corpus — orders of magnitude
    * smaller than the input, which is what makes the checkpoint cheap.
    */
  def neardupEdges(docs: DataFrame, textCol: String, scopeCols: Seq[String], threshold: Double)
                  (implicit s: SparkSession): DataFrame = {
    val toks = tokenSet(docs, textCol, scopeCols).persist()
    try {
      val bands = bandHashes(toks, SignatureCount, RowsPerBand, scopeCols)
      val candidates = candidatePairs(bands, scopeCols)
      val edges = jaccardExploded(toks, candidates)
        .filter(col("jacc") >= threshold)
        .select("d1", "d2", "jacc")
      // expose the pre-checkpoint plan (the LSH pipeline the checkpoint
      // hides behind a Scan ExistingRDD) for plan specs and graft.Plans
      CacheScope.record(edges.queryExecution)
      edges.localCheckpoint(true)
    } finally toks.unpersist(false)
  }

  /** Duplicate clusters from a near-dup pair list: connected components
    * by iterative min-label propagation (each doc adopts the smallest
    * doc_id reachable so far; converges in O(component diameter)
    * rounds — near-dup clusters are dense, so a handful). Each round is
    * two keyed shuffles; intermediate frames are localCheckpoint-ed so
    * the lineage doesn't grow with iterations (the classic iterative-
    * algorithm hazard on Spark at scale).
    *
    * Returns (doc_id, cluster) where cluster = min doc_id of the
    * component; docs absent from `pairs` are their own cluster only if
    * included via `allDocs`.
    */
  def duplicateClusters(pairs: DataFrame, allDocs: DataFrame, maxIter: Int = 10): DataFrame = {
    // Checkpoint the (expensive) pair pipeline ONCE, then mirror the
    // checkpointed result — a union of two live branches would compute
    // the whole upstream pipeline twice (no exchange reuse across the
    // renamed branches). Lazy checkpoints: the plan is cut (lineage
    // stays flat across iterations) but materialization rides on the
    // next action instead of costing one of its own.
    val p = pairs.select(col("d1").as("src"), col("d2").as("dst")).localCheckpoint(false)
    val edges = p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(false)
    // only docs that appear in a pair need the iteration; the rest are
    // their own cluster by definition (usually the large majority)
    val pairedDocs = edges.select(col("src").as("doc_id")).distinct().localCheckpoint(false)
    // one min-label round: each doc adopts min(own, neighbors') cluster;
    // lazy-checkpointed so lineage stays flat (materialized by the next
    // convergence-count action downstream)
    def propagate(labels: DataFrame): DataFrame = {
      // ONE keyed aggregate per round instead of join + agg + re-join:
      // self rows carry the previous label (as both candidate and
      // old-label witness), neighbor rows carry the label flowing along
      // each edge; min over the union is min(own, neighbors') and
      // min(old) recovers the previous label (exactly one self row per
      // doc, neighbor rows vote null). Same fixpoint, same per-round
      // labels, one fewer shuffle per round (guide §2.4) — and no left
      // join whose null branch existed only to re-merge what the union
      // row already carries.
      val self = labels.select(col("doc_id"), col("cluster").as("cand"),
        col("cluster").as("old"))
      val nbr = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster")), Seq("dst"))
        .select(col("src").as("doc_id"), col("cluster").as("cand"),
          lit(null).cast("long").as("old"))
      self.unionByName(nbr)
        .groupBy("doc_id")
        .agg(min(col("cand")).as("cluster"), min(col("old")).as("old_cluster"))
        .localCheckpoint(false)
    }
    var labels = pairedDocs.select(col("doc_id"), col("doc_id").as("cluster"))
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      // TWO propagation rounds per driver action: the count is the
      // per-round fixed cost (job launch + full scan), and min-label
      // propagation is monotone, so "the second round changed nothing"
      // alone certifies the fixpoint — no changes are missed by not
      // counting the first round. (A three-round cadence was A/B'd in
      // round 16 and measured SLOWER — the extra per-action round costs
      // more than the saved count job.)
      val step2 = propagate(propagate(labels))
      round += 2
      val changed = step2.filter(col("cluster") =!= col("old_cluster")).count()
      converged = changed == 0
      labels = step2.select("doc_id", "cluster")
    }
    if (!converged)
      // labels are WRONG for any component whose diameter exceeds the
      // round budget (one component splits into several clusters) —
      // say so loudly instead of letting the caller chase a silent
      // mismatch downstream
      System.err.println(s"[duplicateClusters] WARNING: not converged after $round rounds; " +
        "components wider than the budget are split — raise maxIter")
    val isolated = allDocs.select("doc_id")
      .join(pairedDocs, Seq("doc_id"), "left_anti")
      .withColumn("cluster", col("doc_id"))
    labels.unionByName(isolated)
  }
}
