package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SimpleMode}

/** Dumps the formatted physical plans of the headline queries to
  * PLANS.md — the plan shapes `PlanAuditSpec` pins, in reviewable form.
  * `sbt "runMain graft.Plans [sfDir] [outFile]"`.
  */
object Plans {
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q02_region_revenue", "q05_anchor_window",
    "q13_kinematics", "q14_field_control", "q21_sessionize",
    "q34_ngram_jaccard", "q37_cosine_topk", "q38_lsh_buckets",
    "q50_dedup_pipeline", "q55_dup_clusters",
    "q61_media_features", "q63_sequence_packing", "q65_semantic_dedup",
    "q66_decontam", "q70_unigram_logprob", "q77_pivot_measures", "q79_salted_hot_agg", "q84_range_join_binned", "q86_boilerplate_segments",
    "q88_partitioned_prune", "q89_bucketed_join", "q90_salted_join",
    "q94_range_join_rule", "q95_asof_operator",
    "q101_range_equikey_rule", "q102_asof_tolerance", "q103_asof_strict",
    "q104_scd2_intervals", "q105_stratified_sample", "q106_contamination_rate",
    "q107_zorder_layout", "q108_asof_forward",
    "q112_robust_outliers", "q114_zorder_pruned_scan", "q117_dedup_collapse",
    "q119_fuzzy_blocked_join", "q120_session_window", "q121_gini_source_budget",
    "q122_pagerank_neardup", "q124_asof_broadcast",
    "q126_incremental_agg", "q127_compaction_roundtrip",
    "q129_bloom_join_reduce",
    "q139_vocab_growth", "q141_overlap_spans", "q142_pq_assign",
    "q143_zipf_fit",
    "q144_pq_adc_topk", "q145_ann_recall", "q146_kl_drift",
    "q148_minhash_accuracy",
    "q149_deletion_vectors", "q150_dpp_star", "q151_quantile_binning",
    "q152_bm25_topk", "q154_winnow_overlap", "q155_kmv_sketch",
    "q157_asof_salted",
    "q158_feature_matrix", "q159_field_control_pruned",
    "q160_time_range_scan", "q161_longest_streak",
    "q165_heavy_hitters",
    // round 9: sketch eviction gate, artifact pair, hybrid fusion,
    // DSIR selection, ExactSubstr repetition
    "q168_heavy_hitters_bounds", "q169_dedup_edges_write",
    "q170_dedup_components_read", "q171_rrf_fusion",
    "q172_dsir_weights", "q174_exact_substr",
    // round 9, second wave: interval union, SemDedup, OOV audit,
    // context chunking, count-min gate
    "q175_interval_union", "q176_semdedup_keeplist", "q177_oov_rate",
    "q178_context_chunks", "q179_count_min_gate",
    "q180_char_entropy", "q181_rep_bigram",
    "q182_bpe_train", "q183_containment_dedup",
    "q184_skyline", "q185_keep_rate_ci",
    "q187_exact_substr_removal", "q189_rank_correlation",
    "q190_greedy_cover", "q192_curation_pipeline",
    "q193_sliding_median", "q194_mann_whitney",
    // round 10/11: IVF build/serve split, the three reference-script
    // capstones, the prefix-filter threshold join + its audit
    "q209_ivf_index_build", "q210_ivf_bounded_serving",
    "q211_bdb_capstone", "q212_prefix_filter_join",
    "q213_prefix_filter_audit", "q214_field_control_capstone",
    "q215_coverages_capstone")

  /** Query `name`'s plan in `mode`, then the inner plans its build
    * recorded: queries that checkpoint an intermediate (CacheScope /
    * DedupOps.neardupEdges) surface as `Scan ExistingRDD` in the outer
    * plan, and the plan that actually did the work is the recorded
    * inner one (pre-checkpoint, as executed). Lines past 400 chars are
    * elided: giant inlined literals (e.g. q129's serialized bloom
    * filter renders as ~400 KB of hex) — the plan SHAPE is the record.
    */
  def render(spark: SparkSession, sfDir: String, name: String,
             mode: ExplainMode): (String, Seq[String]) = {
    def trim(plan: String): String = plan.linesIterator.map { l =>
      if (l.length <= 400) l else l.take(400) + s"…[${l.length - 400} chars elided]"
    }.mkString("\n")
    graft.ops.CacheScope.reset()
    val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(mode)
    (trim(plan), graft.ops.CacheScope.inners.map(qe => trim(qe.executedPlan.toString)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.drop(1).headOption.getOrElse("PLANS.md")
    val spark = GraftSession.create("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — headline physical plans (generated by `graft.Plans`)\n\n")
    sb.append(s"Source: `$sfDir`, local[4], AQE on. The shapes that matter —\n")
    sb.append("broadcast joins on dims/grids, partial aggregation below every\n")
    sb.append("exchange, pruned `ReadSchema`/`PushedFilters`, native `vec_dot` /\n")
    sb.append("`partial_top_k_pairs` — are asserted by `PlanAuditSpec`; this file\n")
    sb.append("is the human-readable record.\n")
    headline.foreach { name =>
      val (plan, inners) = render(spark, sfDir, name, SimpleMode)
      sb.append(s"\n## $name\n\n```\n$plan\n```\n")
      inners.zipWithIndex.foreach { case (inner, i) =>
        sb.append(s"\n### $name — inner plan ${i + 1} (pre-checkpoint, as executed)\n\n")
        sb.append(s"```\n$inner\n```\n")
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plans] wrote ${headline.size} plans to $outFile")
    spark.stop()
  }
}
