package graft

import org.apache.spark.sql.SparkSession

/** Whole-catalog plan audit: plans every registered query and flags the
  * patterns that do not survive a 100x scale-up — cartesian products,
  * non-codegen aggregates in the hot path, unkeyed single-partition
  * windows over big inputs, scans with no column pruning. A complement
  * to `PlanAuditSpec` (which pins a curated set of shapes): this sweeps
  * EVERYTHING registered, so a newly added query with a regressed plan
  * is visible even before it gets a dedicated pin.
  *
  * Since round 9 this is a GATE, not a diagnostic: unexplained flags
  * fail `AuditGateSpec` (sbt test) and exit this main non-zero — a new
  * query with a regressed plan cannot land green. Deliberate exceptions
  * stay in the curated lists below, each documented at its definition
  * site.
  *
  * `sbt "runMain graft.Audit [sfDir]"` — prints one line per query:
  * codegen-node count plus any flags; a summary block lists flagged
  * queries; exit code 1 if any.
  */
object Audit {
  // deliberate exceptions, each documented at its definition site:
  //  - q34/q37/q39: declared all-pairs correctness baselines (ScaleGuards)
  //  - q14/q65/q72/q40/q45: broadcast-grid / centroid fan-out crossJoins
  //    (the broadcast IS the scale plan)
  //  - q110: broadcast
  //    O(#sources) quota/total frames; q116: cross of three 1-row
  //    count aggregates; q133/q136/q137: 1-row scalar attach (totals /
  //    FK-violation count crossed onto the result — F5-class bounded)
  //  - q144/q145: broadcast bounded-query-sample fan-out (ADC LUTs /
  //    ground-truth probes — the audit contract is a sampled query set);
  //    q146/q152: 1-row corpus-total attach
  private val expectedCross = Set(
    "q34_ngram_jaccard", "q37_cosine_topk", "q39_neardup_pairs",
    "q14_field_control", "q65_semantic_dedup", "q72_kmeans_step",
    "q40_ivf_ann", "q45_label_centroids", "q50_dedup_pipeline",
    "q70_unigram_logprob", "q110_budget_mixture",
    // (q87's global time-spine crossJoin was replaced round 13 by a
    // per-user keyed sequence generator — no cross shape left to allow)
    "q116_triangle_census", "q133_dq_audit", "q136_bigram_pmi",
    "q137_group_kfold", "q140_curriculum_cut",
    "q144_pq_adc_topk", "q145_ann_recall", "q146_kl_drift",
    "q152_bm25_topk",
    // q156: the 200-probe × broadcast-centroid scoring is a deliberate
    // bounded product (the q210 pattern); q218 (the guarded full-corpus
    // form q156 was before round 15): N × broadcast-centroid scoring
    // behind the ScaleGuard; q159: the 120×53 grid fan-out broadcasts
    // the GRID, tracking side never shuffles (plan-pinned in
    // PlanAuditSpec — the Mahalanobis filter cuts the product below
    // the aggregate)
    "q156_ivf_multiprobe", "q218_multiprobe_full_recall",
    "q159_field_control_pruned",
    // q158: 1-row global-mean scalar attach onto the per-user label
    // frame (same F5-class bounded pattern as q133/q136/q146/q152);
    // q168: the guarantee scoreboard crosses four 1-row aggregates
    // (token total, entry count, violation counts) — all bounded
    "q158_feature_matrix", "q168_heavy_hitters_bounds",
    // q171: bounded id-sampled probe set broadcast against the corpus
    // (dense leg) — the q144/q145 sampled-query-set audit pattern —
    // plus the 1-row BM25 corpus-stats attach; q172: 1-row LM
    // totals/vocab attach (F5-class bounded)
    "q171_rrf_fusion", "q172_dsir_weights",
    // q179: 1-row count-min counter-table attach onto the per-token
    // frame (F5-class bounded — the sketch is d×w longs by construction)
    "q179_count_min_gate",
    // q188: three 1-row scalar legs (n / agree / cross-margin) crossed
    // into the kappa row (F5-class bounded); q189: the q171/q144
    // bounded id-sampled probe-set broadcast against the corpus
    "q188_langid_kappa", "q189_rank_correlation",
    // q195: 1-row totals attach onto the value-grain ECDF frame
    // (F5-class bounded)
    "q195_ks_test",
    // q191: the contingency grid is margins × margins (both dims
    // bounded domains) plus a 1-row total — deliberate broadcast cross
    "q191_chi_square",
    // q200: 1-row digit-total attach onto the 9-row digit frame
    // (F5-class bounded); q201: sources × vocab mixture grid — both
    // sides are aggregate frames of bounded domains (q191's
    // margins×margins pattern) plus the 1-row corpus total
    "q200_benford_audit", "q201_js_divergence",
    // q204: ×6 lag fan-out is a broadcast of the 6-row lag list onto
    // the hour-grain aggregate frame — bounded by construction
    "q204_hourly_acf",
    // q207: ×32 replicate fan-out broadcasts the 32-row replicate list
    // onto the per-type count frame (the B×n grid itself is the keyed
    // index join); q208: q191's margins×margins contingency cross
    "q207_bootstrap_ci", "q208_cramers_v",
    // q210: the probe-to-centroid scoring step crosses the FIXED
    // 20-probe set with the broadcast ⌈√N⌉-row centroid table
    // (Q × nlist, the q156 pattern); the index scan itself is
    // partition-pruned and cell-keyed, never a product
    "q210_ivf_bounded_serving",
    // q214: the q159 pattern — the 120×53 grid BROADCASTS against the
    // single-play tracking side (fan-out + empty-cell restore), the
    // scale plan by design (FieldControlPipeline scaladoc)
    "q214_field_control_capstone")

  // q77: PivotFirst is a TypedImperativeAggregate whose rotation buffer
  // Catalyst only plans as Object/Sort aggregate — inherent to pivot,
  // bounded by the pivoted-domain size, not a regression; q215 composes
  // the same 8-measure × 7-position pivot (coverageFeatureMatrix)
  private val expectedSortAgg = Set("q77_pivot_measures", "q215_coverages_capstone")

  // populated only after a documented review: a global (unpartitioned)
  // window is acceptable solely on frames already aggregated to a
  // bounded DOMAIN (not merely "aggregated" — a per-timestamp or
  // per-user frame is still row-scale):
  //  - q25: order-priority grain (≤ 5 rows by enum domain)
  //  - q110/q140: source grain (the mixture/curriculum tables ARE
  //    per-source, documented at their definition sites)
  //  - q99: hour-bucket totals inside PrefixSum.scalableRunningSum —
  //    the result's own output grain; the row-scale sweep is keyed
  //  - q192: the PrefixSum bucket-offset frame inside the packing
  //    stage — |doc buckets| rows by construction, the op's own
  //    documented single-partition step (same review as q99)
  private val expectedGlobalWindow = Set(
    "q25_freq_ratio", "q110_budget_mixture", "q140_curriculum_cut",
    //  - q194: the PrefixSum bucket-offset frame over floor(value)
    //    buckets — |value buckets| rows (≤ max(value)), the op's own
    //    documented single-partition step
    //  - q195: same PrefixSum bucket-offset frame as q194
    "q99_concurrency", "q192_curation_pipeline", "q194_mann_whitney",
    //  - q215: coverageSummary's freq denominator — a window over the
    //    per-coverage aggregate (≤ 5 rows by the label enum domain,
    //    the q25 order-priority precedent)
    "q195_ks_test", "q215_coverages_capstone")

  final case class QueryAudit(name: String, codegen: Int, flags: List[String])

  /** The detector: scale-killer flags for one executed-plan string.
    * `name` is consulted against the curated exception lists; pass a
    * name outside the catalog to audit an arbitrary plan with no
    * exemptions (how AuditGateSpec proves the detector fires red).
    */
  def flagsFor(name: String, p: String): List[String] = {
    var flags = List.empty[String]
    if (p.contains("CartesianProduct") && !expectedCross(name)) flags ::= "cartesian"
    if (p.contains("BroadcastNestedLoopJoin") && !expectedCross(name))
      flags ::= "bnl-join"
    // SortAggregate appears when an agg buffer can't hash (string /
    // complex buffer types) — a per-partition sort at scale
    if (p.contains("SortAggregate") && !expectedSortAgg(name)) flags ::= "sort-agg"
    // a Window with an empty partition spec sorts EVERYTHING into one
    // task; only acceptable on provably tiny frames. The reliable
    // physical signature is the Window's child exchange being
    // SinglePartition (an order-only windowspecdefinition still prints
    // a column first, so text-matching the spec can't tell the two
    // apart — the round-8 detector missed real global windows that way).
    val lines = p.linesIterator.toVector
    val globalWin = lines.zipWithIndex.exists { case (l, i) =>
      l.contains("Window [") &&
        lines.slice(i + 1, i + 4).exists(_.contains("Exchange SinglePartition"))
    }
    if (globalWin && !expectedGlobalWindow(name)) flags ::= "global-window"
    flags
  }

  /** Plan every registered query and audit it. Any query that fails to
    * PLAN is itself a flag (`ERROR: ...`). The session should have AQE
    * disabled: the adaptive wrapper defers physical finalization to
    * execution time, which hides WholeStageCodegen spans (and join
    * selections) from an unexecuted plan's toString.
    */
  def sweep(spark: SparkSession, sfDir: String): Seq[QueryAudit] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val a =
        try {
          val p = fn(spark, sfDir).queryExecution.executedPlan.toString
          // codegen stages print as "*(id) Op" prefixes; distinct ids =
          // WholeStageCodegen span count
          val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(p).map(_.group(1)).toSet.size
          QueryAudit(name, codegen, flagsFor(name, p))
        } catch {
          case e: Throwable =>
            QueryAudit(name, 0, List(s"ERROR: ${String.valueOf(e.getMessage).take(120)}"))
        }
      spark.sharedState.cacheManager.clearCache()
      a
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.create("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    // AQE off for the audit — see `sweep`
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val results = sweep(spark, sfDir)
    results.foreach { a =>
      println(f"${a.name}%-28s codegen=${a.codegen}%-3d ${a.flags.mkString(" ")}")
    }
    println()
    val flagged = results.filter(_.flags.nonEmpty)
    if (flagged.isEmpty) println("[audit] no flags")
    else {
      println(s"[audit] GATE FAIL — ${flagged.size} unexplained flags " +
        "(deliberate shapes belong in Audit.expectedCross/expectedSortAgg):")
      flagged.foreach { a => println(s"  ${a.name}: ${a.flags.mkString(", ")}") }
    }
    spark.stop()
    if (flagged.nonEmpty) sys.exit(1)
  }
}
