package graft

import org.apache.spark.sql.catalyst.expressions.{Cast, Round, Sin}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.ExactRound

/** Plan-shape regression tests (SURVEY.md §4): the physical plans that
  * make these queries scale must survive refactors — broadcast joins for
  * dims and grids, pushed filters + pruned scans, window top-k pushdown.
  * Asserting on plan text is deliberate: a silent fallback to
  * sort-merge-join or a full-column scan is a perf bug at 100 TB even
  * when results stay correct.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q02 joins all four dims as broadcast-hash, scans prune to needed columns") {
    val p = plan("q02_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length === 4)
    assert(!p.contains("SortMergeJoin"))
    // lineitem scan reads only the 3 needed columns
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"))
  }

  test("q01 sums scaled longs: its partial HashAggregate holds cents, no decimal(18,2) cast") {
    val exec = SparkEntry.queries("q01_pricing_summary")(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val partials = exec.collect {
      case h: HashAggregateExec if h.aggregateExpressions.forall(_.mode == Partial) => h
    }
    assert(partials.size === 1, exec.toString)
    val exprs = partials.head.expressions
    assert(exprs.exists(_.exists(_.isInstanceOf[graft.expr.Cents])))
    assert(!exprs.exists(_.exists {
      case c: Cast => c.dataType.isInstanceOf[DecimalType]
      case _ => false
    }), partials.head.toString)
    assert(!partials.head.toString.contains("decimal(18,2)"))
  }

  test("q05 computes the anchor in a single window shuffle over a pruned scan") {
    val p = plan("q05_anchor_window")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_returnflag:string>"))
  }

  test("q04 top-k pushes a PARTIAL WindowGroupLimit below the shuffle") {
    val p = plan("q04_topk_per_group")
    // map-side k-row truncation per group BEFORE the exchange: the
    // shuffle carries at most k rows per (group, input partition), not
    // the full table — the difference between top-k and a global sort
    // at 100 TB
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains(", 3, Partial"), s"no partial window-group-limit in:\n$p")
  }

  test("q13 kinematics stays one fused projection chain (no shuffle before sort)") {
    val p = plan("q13_kinematics")
    assert(!p.contains("hashpartitioning"))
    assert(p.contains("FileScan parquet"))
    // DeferProjectPastSort: the range exchange carries only the sort keys
    // and the base columns the kinematics read, and the math runs once,
    // above the Sort, instead of twice in the scan task (sample + map)
    val exec = SparkEntry.queries("q13_kinematics")(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val range = exec.collectFirst { case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e }
    assert(range.map(_.child.output.map(_.name).toSet) ===
      Some(Set("l_orderkey", "l_linenumber", "l_quantity", "l_tax", "l_discount")))
    def holds(n: SparkPlan, c: Class[_]) = n.expressions.exists(_.exists(c.isInstance))
    def math(n: SparkPlan) = Seq(classOf[Round], classOf[ExactRound], classOf[Sin]).exists(holds(n, _))
    val sort = exec.collectFirst { case s: SortExec => s }.get
    assert(!sort.exists(math), s"round/SIN below the Sort:\n$exec")
    assert(exec.exists(n => n.isInstanceOf[ProjectExec] && math(n) && n.exists(_ eq sort)))
    // ExactRoundRule: every round(_, 6) runs as exact_round, above the Sort
    assert(!exec.exists(holds(_, classOf[Round])), s"a Round is left:\n$exec")
    assert(exec.exists(n => holds(n, classOf[ExactRound]) && n.exists(_ eq sort)), s"no exact_round above the Sort:\n$exec")
  }

  test("q37 top-k runs as partial+final native aggregate (k-sized buffers, no pair sort)") {
    val p = plan("q37_cosine_topk")
    assert(p.contains("partial_top_k_pairs")) // TypedImperativeAggregate partials before the shuffle
    assert(p.contains("vec_dot"))             // native expression survived planning
    assert(!p.contains("WindowGroupLimit"))   // the old sort-the-pairs window formulation is gone
  }

  test("q14 broadcasts the field grid (never shuffles the fan-out side)") {
    val p = plan("q14_field_control")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"))
    // partial aggregation happens before the only exchange
    assert(p.indexOf("partial_sum") > 0)
  }

  test("filters reach the parquet scan (predicate pushdown)") {
    val p = plan("q11_event_filters")
    assert(p.contains("PushedFilters:") && p.contains("In(event_type"))
  }

  test("q63 packing is ONE keyed window exchange over a pruned scan (no global sort before the window)") {
    val p = plan("q63_sequence_packing")
    // one hash exchange for the (lang, source) window; the only other
    // exchange is the final presentation-order range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
    assert(p.contains("windowspecdefinition(lang"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>"))
  }

  test("q65 assigns centroids via broadcast and searches only within cells") {
    val p = plan("q65_semantic_dedup")
    // the in-cell search: no cartesian product anywhere, dots via the
    // native vec_dot. The centroid assignment itself sits behind the
    // round-14 lazy localCheckpoint (it feeds three branches and must
    // not re-run per branch), so its broadcast shape is pinned on the
    // shared helper's own plan below, not the outer plan text.
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("vec_dot"))
    // Pin the CHECKPOINTED CHILD plan itself (round-14 ADVICE: a fixed
    // 8-centroid stand-in would let q65 regress to a non-broadcast
    // assignment unnoticed): rebuild the assignment EXACTLY as q65 does
    // — same loader, same data-scaled nlist via the shared ivfNlist,
    // same nearestCells helper — and assert broadcast on the plan that
    // localCheckpoint will execute inside q65.
    val v = graft.Tables.embeddings(spark, sf)
      .withColumn("nrm", org.apache.spark.sql.functions.sqrt(
        org.apache.spark.sql.functions.expr("vec_dot(embedding, embedding)")))
    val nlist = graft.queries.SimilarityQueries.ivfNlist(v)
    assert(nlist > 8, s"sf0.01 nlist should be data-scaled past the floor, got $nlist")
    val cents = v.orderBy("vec_id").limit(nlist)
      .select(org.apache.spark.sql.functions.col("vec_id").as("cent_id"),
        org.apache.spark.sql.functions.col("embedding").as("cent_emb"),
        org.apache.spark.sql.functions.col("nrm").as("cent_nrm"))
    val ap = graft.queries.SimilarityQueries.nearestCells(v, cents)
      .queryExecution.executedPlan.toString
    assert(ap.contains("BroadcastNestedLoopJoin BuildRight, Cross"),
      s"assignment fan-out not broadcast:\n${ap.take(1500)}")
    assert(!ap.contains("CartesianProduct"))
  }

  // q66/q70 build inside CacheScope.withPersisted, which checkpoints the
  // result (the returned frame's plan is just a Scan ExistingRDD) — the
  // interesting plan is the inner one the checkpoint executed, exposed
  // via CacheScope.lastInner exactly as it ran with the caches live.
  private def innerPlan(q: String): String = {
    graft.ops.CacheScope.reset()
    SparkEntry.queries(q)(spark, sf)
    graft.ops.CacheScope.lastInner.get.executedPlan.toString
  }

  test("q66 checks contamination via broadcast (training grams never shuffle for the join)") {
    val p = innerPlan("q66_decontam")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string"))
  }

  test("q68 sampling is a map-only predicate (no hash exchange before the final sort)") {
    val p = plan("q68_mixture_sample")
    assert(!p.contains("Exchange hashpartitioning"))
    assert(p.contains("FileScan parquet"))
  }

  test("q70 broadcasts the vocabulary and the total (corpus side never re-shuffles for them)") {
    val p = innerPlan("q70_unigram_logprob")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"))
  }

  test("q72 assigns centroids via broadcast; no cartesian product") {
    val p = plan("q72_kmeans_step")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("vec_dot"))
  }

  test("q73 candidate generation joins band buckets (sort-merge or hash), never all-pairs") {
    val p = plan("q73_incremental_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q77 multi-measure pivot is the two-stage PivotFirst shape, partial+final at each stage") {
    val p = plan("q77_pivot_measures")
    // stage 1: min_by collision pinning keyed by (l_orderkey, l_returnflag);
    // stage 2: pivotfirst rotation keyed by l_orderkey — both with map-side
    // partials, no per-measure shuffles, nothing unkeyed
    assert(p.contains("partial_min_by"))
    assert(p.contains("partial_pivotfirst"))
    assert("Exchange hashpartitioning\\(l_orderkey#\\d+L, l_returnflag".r.findAllIn(p).length === 1)
    assert("Exchange hashpartitioning\\(l_orderkey#\\d+L, \\d".r.findAllIn(p).length === 1)
  }

  test("q79 salted aggregation is the two-phase shape: salt exchange below, key exchange above") {
    val p = plan("q79_salted_hot_agg")
    // phase 1 shuffles on (event_type, __salt) — the hot key split
    // across salt buckets; phase 2 recombines on event_type alone
    assert(p.contains("__salt"))
    assert("Exchange hashpartitioning\\(event_type[^_]*__salt".r.findAllIn(p).nonEmpty)
    assert("Exchange hashpartitioning\\(event_type#".r.findAllIn(p).nonEmpty)
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("q83 quantization is map-only: no hash exchange before the presentation sort") {
    val p = plan("q83_int8_quantize")
    assert(!p.contains("Exchange hashpartitioning"))
    assert(p.contains("FileScan parquet"))
  }

  test("q84 range join is a keyed equi-join on the bin, never a nested loop") {
    val p = plan("q84_range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("join_bin"))
  }

  test("q88 reads only the filtered lang partition (PartitionFilters pruning)") {
    val p = plan("q88_partitioned_prune")
    assert(p.contains("PartitionFilters: [isnotnull(lang"))
    assert(p.contains("(lang#") && p.contains("= en)"))
  }

  test("q210 serving scan partition-prunes on the probed cells through the explicit cast") {
    // the cell filter casts the inferred partition column to long BEFORE
    // the isin (round-16: the pruning predicate must not depend on
    // partition-column type inference defaults) — pin that the cast
    // predicate still reaches PartitionFilters, i.e. the scan is pruned
    // to the probed cells rather than reading every cell directory
    val p = plan("q210_ivf_bounded_serving")
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(p)
      .find(_.contains("cell"))
    assert(pf.isDefined, s"no PartitionFilters on the cell column:\n$p")
    assert(pf.get.contains("IN") || pf.get.contains("isin"),
      s"cell PartitionFilters carries no IN-set predicate: ${pf.get}")
  }

  test("q89 bucketed SMJ has zero join-side Exchange (only the post-join agg shuffles)") {
    val p = plan("q89_bucketed_join")
    assert(p.contains("SortMergeJoin"))
    // the ONLY hash exchange is the groupBy(c_nationkey) after the join:
    // both join inputs are 8-bucket scans that already satisfy the
    // join's distribution requirement
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
    assert(p.contains("Bucketed: true"))
  }

  test("q90 salted join spreads the key over (key, salt) and replicates the dim, no broadcast") {
    val p = plan("q90_salted_join")
    assert(p.contains("SortMergeJoin"))
    assert(p.contains("__salt"))
    assert(p.contains("Generate explode"))  // dim replicated across salts
    assert(!p.contains("BroadcastHashJoin"))
  }

  test("q94 range theta-join is auto-rewritten to a binned equi-join (no nested loop)") {
    val p = plan("q94_range_join_rule")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("__graft_bin"))        // rule's bin keys drive the join
    assert(p.contains("Generate explode"))   // bounds side exploded over its bins
  }

  test("q95 plans the custom AsOfJoinExec (one exchange+sort per side, no window fallback)") {
    val p = plan("q95_asof_operator")
    assert(p.contains("AsOfJoin"))
    assert(!p.contains("Window"))  // not the union+window encoding
  }

  test("q94/q101 activation leaves no session conf behind and touches no other join") {
    plan("q94_range_join_rule")    // eager binned() path — conf never set
    plan("q101_range_equikey_rule")
    // q84 (manual bin rewrite, range + equi conjunct — the generalized
    // matcher WOULD now take it if armed) and q02 (plain equi star
    // joins) must plan untouched after the gate queries ran
    assert(!plan("q84_range_join_binned").contains("__graft_bin"))
    assert(!plan("q02_region_revenue").contains("__graft_bin"))
  }

  test("q101 equi-key + range plans as a keyed join on (user, bin), no nested loop") {
    val p = plan("q101_range_equikey_rule")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("__graft_bin"))
    assert(p.contains("Generate explode"))
    // the user's key and the rule's bin ride the SAME join key list
    assert("\\[__graft_bin_p#\\d+L, user_id#\\d+L\\]|\\[user_id#\\d+L, __graft_bin_p#\\d+L\\]".r
      .findFirstIn(p).isDefined, s"user_id not co-keyed with the bin:\n$p")
  }

  test("q102/q103 plan the custom AsOfJoinExec (tolerance/strict variants)") {
    assert(plan("q102_asof_tolerance").contains("AsOfJoin"))
    assert(plan("q103_asof_strict").contains("AsOfJoin"))
  }

  test("q104 SCD2 pays ONE keyed shuffle: all three windows share the (user) sort") {
    val p = plan("q104_scd2_intervals")
    // lag, row_number, and lead all ride the same hashpartitioning(user_id)
    // exchange + (user, ts, id) sort; the only other exchange is the
    // final presentation-order range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
    // exactly one partition-local (user, ts, id) sort feeds both Window
    // nodes; the only other Sort is the global presentation order
    assert("Sort \\[user_id#\\d+L ASC NULLS FIRST, ts_us".r.findAllIn(p).length === 1)
    // column-pruned scan; ts's physical type is whatever the testdata
    // ships (bigint through r5, timestamp_ntz from r6) — pin the pruning,
    // not the drifting type
    assert("ReadSchema: struct<event_id:bigint,ts:[a-z_0-9]+,user_id:bigint,event_type:string>".r
      .findFirstIn(p).isDefined, s"events scan not pruned to 4 columns:\n$p")
  }

  test("q107 z-order layout is map-only bit math + one keyed agg exchange") {
    val p = plan("q107_zorder_layout")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
    assert(p.contains("partial_min") && p.contains("partial_max"))
    assert(p.contains("shiftright"))
    assert("ReadSchema: struct<ts:[a-z_0-9]+,user_id:bigint>".r.findFirstIn(p).isDefined,
      s"events scan not pruned to (ts, user_id):\n$p")
  }

  test("q124 plans AsOfJoin over a BroadcastExchange, with no hash exchange on the probe side") {
    // q124's quote side is dim-sized (types × hours): broadcast(quotes)
    // selects AsOfJoinExec's broadcast distribution, so the purchase
    // probes are only sorted within their scan partitions. A
    // hashpartitioning exchange here means the probe side shuffles
    // again, which at scale is the cost the hint exists to avoid.
    val exec = SparkEntry.queries("q124_asof_broadcast")(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val p = exec.toString
    val join = exec.collectFirst { case j: graft.plans.AsOfJoinExec => j }
      .getOrElse(fail(s"no AsOfJoinExec in q124's plan:\n$p"))
    assert(join.broadcastRight, s"q124's as-of join is not in broadcast mode:\n$p")
    assert(join.right.isInstanceOf[BroadcastExchangeExec], s"quote side is not a broadcast:\n$p")
    // between the probe scan and the join, nothing but local operators
    val probeExchanges = join.left.collect { case e: ShuffleExchangeExec => e }
    assert(probeExchanges.isEmpty, s"probe side shuffles:\n$p")
    assert(!join.left.toString.contains("hashpartitioning"), s"probe side hash-partitions:\n$p")
  }

  test("q157 salted as-of shuffles on (user, salt): the hot-key spread is in the plan") {
    val p = plan("q157_asof_salted")
    assert(p.contains("AsOfJoin"))
    // both sides hash-partition on the two-part key — user alone would
    // mean the salt never spread anything
    assert("hashpartitioning\\(user_id#\\d+L, __asof_salt#\\d+".r.findAllIn(p).length === 2,
      s"salt not part of both exchange keys:\n$p")
  }

  test("q108 plans AsOfJoinExec with the forward flag set") {
    val p = plan("q108_asof_forward")
    assert(p.contains("AsOfJoin"))
    assert(!p.contains("Window"))
    // node args end (strict=false, forward=true): ", false, true"
    assert(p.contains(", false, true"), s"forward flag not visible in:\n$p")
  }

  test("q105 stratified sample prunes the scan and sorts only within strata") {
    val p = plan("q105_stratified_sample")
    // one hash exchange for the per-stratum window; rank filter applied
    // above the window, no extra shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1)
    assert(p.contains("row_number"))
    assert(p.contains("md5"))
  }

  test("q114 reads only the bit-math-qualified z-order tiles (partition pruning)") {
    val p = plan("q114_zorder_pruned_scan")
    assert(p.contains("PartitionFilters: ["), s"no partition filters in:\n$p")
    assert(p.contains("tile#"))
    // the xb refinement runs as a data filter inside surviving partitions
    assert(p.contains("(xb#") && p.contains(">= 4)"))
  }

  test("q61 multimodal decode path shuffles once on the media key") {
    val p = plan("q61_media_features")
    // repartition(media_id) + the groupBy(kind) partial/final agg
    assert(p.contains("MapPartitions") || p.contains("mapPartitions") || p.contains("SerializeFromObject"))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("q119 canonicalizes BEFORE matching: name aggregate below the blocked self-join") {
    val p = plan("q119_fuzzy_blocked_join")
    // the distinct-name aggregate (count per p_name) must sit under the
    // join — the quadratic work runs on the vocabulary, not the records
    assert(p.contains("HashAggregate") && p.contains("p_name"),
      s"no canonicalizing aggregate in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join fell back to an unkeyed join:\n$p")
    // blocked self-join is keyed on (token, length)
    assert(p.contains("len#"), s"length not part of the block key:\n$p")
  }

  test("q120 native session_window: partial agg, ONE keyed exchange, MergingSessions") {
    val p = plan("q120_session_window")
    assert(p.contains("MergingSessions"), s"no session-merge operator in:\n$p")
    // exactly one hash exchange (on user_id) before the final agg — the
    // orderBy adds a range exchange, nothing else shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, s"extra shuffles in:\n$p")
    assert(p.contains("partial_count") || p.contains("merge_count"))
  }

  test("q116 has NO mandatory broadcast on the edge list; wedges counted from degrees") {
    val df = SparkEntry.queries("q116_triangle_census")(spark, sf)
    // the near-dup edge count is data-dependent (duplicate density), so a
    // forced broadcast() of the edge list is the one plan shape that can
    // OOM the driver at scale — the triangle probe must leave the join
    // strategy to AQE (which still picks broadcast-hash when the runtime
    // size is small). Pin: zero ResolvedHints anywhere in the plan.
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"mandatory join hint in q116:\n${df.queryExecution.analyzed}")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in census:\n$p")
    // lineage pin: the LSH pipeline is cut by neardupEdges' checkpoint —
    // the census plan reads materialized edge blocks, never re-derives
    // band hashes (5 consumers of the family op would otherwise re-run
    // tokenize+md5 per aggregate branch)
    assert(!p.contains("band_hash"), s"census recomputes the LSH pipeline:\n$p")
  }

  test("q122 PageRank rounds reuse the checkpointed edge frame (no recompute per round)") {
    val p = plan("q122_pagerank_neardup")
    // 3 rounds x (edges join + dst agg) all read the same materialized
    // edge blocks (neardupEdges' eager checkpoint); the LSH derivation
    // never appears in the iteration plan
    assert(p.contains("Scan ExistingRDD"), s"edge frame not checkpoint-backed:\n$p")
    assert(!p.contains("band_hash"), s"PageRank recomputes the LSH pipeline:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q129 bloom probe is a pre-join filter on the fact scan, not an extra join") {
    val p = plan("q129_bloom_join_reduce")
    // the membership probe plants Spark's native might_contain over the
    // fact scan — pruning happens BEFORE the join's shuffle/broadcast
    assert(p.contains("might_contain"), s"no bloom probe in:\n$p")
    assert(p.indexOf("might_contain") > p.indexOf("Join"),
      s"bloom probe not below the join in:\n$p")
    // exactly one join: the bloom pass must not add a second one
    assert("HashJoin".r.findAllIn(p).length === 1, s"extra join in:\n$p")
  }

  test("q130 both snapshot reads stay pruned parquet scans of the state schema") {
    val p = plan("q130_time_travel")
    // two versioned scans, zero joins: time travel is a read-path
    // concern; the upsert already happened at write time
    assert("FileScan parquet".r.findAllIn(p).length === 2, s"expected 2 scans in:\n$p")
    assert(!p.contains("Join"), s"unexpected join in:\n$p")
  }

  test("q132 epoch shuffle pays ONE exchange: the shard hash partitioning") {
    val p = plan("q132_seeded_shuffle")
    // window-by-shard and the final order share the shard key; the only
    // hash exchange is on shard — md5/shard derivation is map-side
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1, s"extra exchange in:\n$p")
    assert(!p.contains("Join"))
  }

  test("q141 span analysis is join + keyed window — no self-join, no products") {
    val p = plan("q141_overlap_spans")
    // the islands trick finds runs with ONE window over hit positions;
    // a naive spans query self-joins positions to positions
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast in:\n$p")
    assert("HashJoin".r.findAllIn(p).length === 1, s"extra join (self-join?) in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q142 PQ codebook joins hash on the subspace key, never nested-loop") {
    val p = plan("q142_pq_assign")
    // vectors x codebook composes as an equi-join on `sub` (4 keys, 32
    // codebook rows broadcast) — a crossJoin formulation would plan a
    // BroadcastNestedLoopJoin and 8x the probe work
    assert(p.contains("BroadcastHashJoin"), s"codebook join not broadcast-hash in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("vec_dot"), s"distance not the native expression in:\n$p")
  }

  test("q143 zipf fit: corpus shuffles once to (source, tok), then source-grain math") {
    val p = plan("q143_zipf_fit")
    // explode -> partial agg -> ONE hash exchange on (source, tok);
    // the window repartitions by source only after the vocab-sized agg
    assert(!p.contains("Join"), s"unexpected join in:\n$p")
    assert(p.contains("HashAggregate"), s"no hash agg in:\n$p")
    assert(!p.contains("SortAggregate"), s"sort agg in a hot path:\n$p")
  }

  test("q144 ADC pass is map-only over the encoded corpus + partial top-k (no corpus sort)") {
    val p = plan("q144_pq_adc_topk")
    // the per-query LUT attaches as a broadcast fan-out; the final
    // ranking is the native k-buffer aggregate, never a window sort
    // over |corpus|x|queries| rows
    assert(p.contains("partial_top_k_pairs"), s"top-k not the partial native agg in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"codebook join not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the only window is the encode's keyed (vec_id, sub) argmin — its
    // WindowGroupLimit is partial+keyed, fine; what must NOT appear is
    // a window over the ADC scores (qid-partitioned ranking of the
    // corpus×queries fan-out)
    assert(!p.contains("windowspecdefinition(qid"), s"corpus-side ADC ranking window in:\n$p")
  }

  test("q145 recall audit: both search sides end in partial top-k, centroids broadcast") {
    val p = plan("q145_ann_recall")
    assert("partial_top_k_pairs".r.findAllIn(p).length >= 2,
      s"exact/ivf sides not both on the native partial top-k in:\n$p")
    assert(p.contains("vec_dot"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q146 KL terms join on tok with broadcast totals — no global shuffle") {
    val p = plan("q146_kl_drift")
    // sc (vocab-sized) joins cc on tok as a real shuffle join at scale;
    // per-source totals and the 1-row corpus total attach broadcast
    assert(p.contains("BroadcastHashJoin"), s"totals not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortAggregate"), s"sort agg in a hot path:\n$p")
  }

  test("q148 sketch audit: signature compare is a keyed join, exact side stays exploded-hash") {
    val p = innerPlan("q148_minhash_accuracy")
    // est side: candidates join signatures keyed by (doc, seed); exact
    // side: jaccardExploded's token joins — hash joins, no cartesian
    // products (the BroadcastNestedLoopJoin Cross in this plan is the
    // deliberate 8-row seed fan-out inside minhashSignatures)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q149 MOR read applies the deletion vector as a broadcast LEFT ANTI join") {
    val p = plan("q149_deletion_vectors")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"DV not broadcast on the anti join in:\n$p")
    assert(p.contains("row_index") || p.contains("_metadata"),
      s"positional addressing missing from:\n$p")
  }

  test("q150 fact scan carries a dynamicpruning partition filter (DPP active)") {
    val p = plan("q150_dpp_star")
    assert(p.contains("dynamicpruning"), s"no dynamic partition pruning in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim side not broadcast in:\n$p")
  }

  test("q151 bin edges broadcast onto the test split (apply side map-only)") {
    val p = plan("q151_quantile_binning")
    // the train-side rank window is keyed by event_type; the apply join
    // must be a broadcast of the O(event_types) edge table
    assert(p.contains("BroadcastHashJoin"), s"edge join not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q154 winnow overlap joins keyed on fingerprint — no products, cap before the pair join") {
    val p = plan("q154_winnow_overlap")
    // the stop-fingerprint filter must sit BELOW the self-join (each
    // bucket bounded to <= 8 docs before pairing); all joins keyed
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash join in:\n$p")
  }

  test("q152 BM25 ranks through the native partial top-k, query terms broadcast") {
    val p = plan("q152_bm25_topk")
    assert(p.contains("partial_top_k_pairs"), s"ranking not the partial native agg in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"query-term pick not a bounded top-n in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q155 KMV sketch runs as partial+final native aggregate (k-long buffers)") {
    val p = plan("q155_kmv_sketch")
    assert(p.contains("partial_kmv_distinct"), s"KMV not partial-aggregated in:\n$p")
    assert(!p.contains("Join"), s"unexpected join in:\n$p")
  }

  test("q160 time-range predicate reaches the events scan as PushedFilters on raw ts") {
    val p = plan("q160_time_range_scan")
    // the range must be in the scan's PushedFilters — on the RAW ts
    // column, not the derived ts_us (which would evaluate above the
    // scan and read every row group)
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts,".r.findFirstIn(p).isDefined,
      s"ts lower bound not pushed to the scan:\n$p")
    assert("PushedFilters: \\[[^\\]]*LessThan\\(ts,".r.findFirstIn(p).isDefined,
      s"ts upper bound not pushed to the scan:\n$p")
  }

  test("q161 streak windows + final max ride ONE exchange (agg reuses window partitioning)") {
    val p = plan("q161_longest_streak")
    assert(p.contains("row_number"))
    // all three window functions and the final aggregate share the
    // (gameId, playId, nflId) hash partitioning — a second exchange
    // would mean the gaps-and-islands rewrite lost its one-sort shape
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"expected exactly one hash exchange:\n$p")
  }

  test("q165 heavy-hitters runs as partial+final native aggregate (k-entry buffers)") {
    val p = plan("q165_heavy_hitters")
    assert(p.contains("partial_heavy_hitters"), s"sketch not partial-aggregated in:\n$p")
    assert(!p.contains("Join"), s"unexpected join in:\n$p")
  }

  test("q159 Mahalanobis pruning filters BELOW the per-cell aggregate (fan-out cut in-plan)") {
    val p = plan("q159_field_control_pruned")
    val lines = p.linesIterator.toVector
    // the 12σ predicate must survive in the plan. The maha_sq NAME is
    // collapsed into the inlined quadratic form by the optimizer, and
    // Catalyst pushes the predicate into the BroadcastNestedLoopJoin's
    // join CONDITION (strictly better than a post-join Filter: rows die
    // during the grid fan-out) — accept either placement, anchored on
    // the 12² bound, which no other literal in this plan shares.
    val fIdx = lines.indexWhere(l =>
      (l.contains("Filter") || l.contains("BroadcastNestedLoopJoin")) &&
        """<\s*144(\.0+)?\b""".r.findFirstIn(l).isDefined)
    assert(fIdx >= 0, s"maha pruning predicate not in plan (Filter or BNLJ condition):\n$p")
    // ...and sit BENEATH the per-cell control sum specifically: plan text
    // is top-down, so the grid-cell-keyed sum aggregate must appear
    // before (above) the filter — the shuffle and the exp then see only
    // surviving rows (SURVEY §4's 10-50× cut). Matching the grid keys +
    // sum guards against an unrelated earlier HashAggregate making the
    // ordering check vacuous.
    val aIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("keys=") &&
        l.contains("sum") && l.contains("grid_x") && l.contains("grid_y"))
    assert(aIdx >= 0, s"per-cell sum HashAggregate not in plan:\n$p")
    assert(fIdx > aIdx, s"maha filter not below the per-cell aggregate:\n$p")
    // the grid fan-out itself is a broadcast nested-loop (no shuffle of
    // the 100 TB probe side to build the grid product)
    assert(p.contains("BroadcastNestedLoopJoin"), s"grid fan-out not broadcast:\n$p")
  }

  test("q211 capstone: dims broadcast, all three ball windows ride ONE hash exchange, CSV scan prunes") {
    val p = plan("q211_bdb_capstone")
    // plays⋈games folds into one broadcast side, then broadcasts against
    // the big tracking scan — never a shuffle of the tracking table
    assert("BroadcastHashJoin".r.findAllIn(p).length === 2, s"expected 2 broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"))
    // football flag + xFootball + yFootball all ride the single
    // (gameId, playId, frameId) exchange; the rangepartitioning at the
    // top is the presentation sort, not a data shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"expected exactly one hash exchange:\n$p")
    // the tracking CSV scan reads only the 9 consumed columns (of 19)
    assert(p.contains("ReadSchema: struct<x:double,y:double,event:string,displayName:string,frameId:int,team:string,gameId:bigint"),
      s"tracking scan not pruned:\n$p")
  }

  test("q214 capstone: pick-play is top-k (never a global window), play join + grid both broadcast, maha filter below the cell sum") {
    val p = plan("q214_field_control_capstone")
    val lines = p.linesIterator.toVector
    // B10/F1/E5: the 7th-play selection compiles to TakeOrderedAndProject
    // top-k steps — at 100 TB the plays table is never globally sorted
    // and never single-partition-windowed
    assert(p.contains("TakeOrderedAndProject"), s"pick-play not a top-k:\n$p")
    // the 1-row picked play broadcasts against the tracking scan; the
    // only sort-merge join in the plan is the empty-cell RESTORE join,
    // keyed on (game, play, frame, cell) — the output grain itself, a
    // keyed shuffle that shards at any scale (not asserted away)
    assert(p.contains("BroadcastHashJoin"), s"picked-play join not broadcast:\n$p")
    // the grid fan-out is the q159 broadcast product, and the 12σ maha
    // filter sits BELOW the per-cell signed sum (plan text is top-down:
    // aggregate above filter) so the E3-normalize window, the exp, and
    // the shuffle see only surviving rows
    assert(p.contains("BroadcastNestedLoopJoin"), s"grid fan-out not broadcast:\n$p")
    val fIdx = lines.indexWhere(l =>
      (l.contains("Filter") || l.contains("BroadcastNestedLoopJoin")) &&
        """<\s*144(\.0+)?\b""".r.findFirstIn(l).isDefined)
    assert(fIdx >= 0, s"maha pruning predicate not in plan:\n$p")
    val aIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("keys=") &&
        l.contains("sum") && l.contains("grid_x") && l.contains("grid_y"))
    assert(aIdx >= 0, s"per-cell sum HashAggregate not in plan:\n$p")
    assert(fIdx > aIdx, s"maha filter not below the per-cell aggregate:\n$p")
    // E3 grid-max normalization is a KEYED window (per player-frame),
    // not a global one
    assert(p.contains("Window"), s"grid-max normalize window missing:\n$p")
  }

  test("q215 capstone: dims broadcast, H1 pivot aggregate keyed per frame, D4 mode rides a keyed window") {
    val p = plan("q215_coverages_capstone")
    // coverages/playsDim/games⋈plays broadcast against the tracking
    // side (several BroadcastHashJoins); the ONLY sort-merge joins are
    // the play-grain perPlay⋈frameStats assemblies — keyed on
    // (gameId, playId), both sides O(#plays), the correct scale plan
    // (broadcasting a side that grows with the corpus would be wrong)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"dim joins not broadcast:\n$p")
    val smj = "SortMergeJoin \\[gameId".r.findAllIn(p).length
    assert("SortMergeJoin".r.findAllIn(p).length === smj,
      s"a non-play-grain sort-merge join appeared:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the 8×7 pivot is an aggregate keyed by (gameId, playId, frameId) —
    // pivotfirst buffers, bounded by the pinned position domain
    assert(p.toLowerCase.contains("pivotfirst"), s"pivot aggregate missing:\n$p")
    // the per-play mode (D4) is a row_number over a (gameId, playId)-
    // keyed window — high-cardinality keys, shards at any scale
    assert(p.contains("row_number"), s"mode rank window missing:\n$p")
  }

  test("q210 serving: the index scan is PARTITION-PRUNED to the probed cells") {
    val p = plan("q210_ivf_bounded_serving")
    // the ≤2Q probed cell ids become plan literals, so the parquet scan
    // of the cell-partitioned index carries PartitionFilters — at 100 TB
    // this is the difference between reading ~Q·nprobe·√N rows and
    // scanning the whole index
    assert("PartitionFilters: \\[.*cell".r.findFirstIn(p).isDefined,
      s"no partition filter on the index scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    // top-5 per probe rides the native partial top_k_pairs aggregate
    assert(p.contains("partial_top_k_pairs"), s"top-k not partial-aggregated:\n$p")
  }

  test("q175 interval union: both windows + both aggs ride ONE user_id exchange") {
    val p = plan("q175_interval_union")
    // one hash exchange (user_id); the final rangepartitioning is the
    // presentation sort, not a second data shuffle
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"expected exactly one hash exchange:\n$p")
    assert(p.contains("Window"), s"sweep windows missing:\n$p")
  }

  test("q177 OOV audit: the vocab side joins by BROADCAST, never shuffling the token stream") {
    val p = plan("q177_oov_rate")
    assert(p.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k vocab not a TakeOrdered (global sort snuck in):\n$p")
  }

  test("q178 chunking plan has NO exchange before the presentation sort") {
    val p = plan("q178_context_chunks")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row chunk extraction should not shuffle:\n$p")
  }

  test("q184 skyline: both windows share the scope partitioning (one hash exchange)") {
    val p = plan("q184_skyline")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"expected exactly one hash exchange:\n$p")
    // the strict-dominance frame is a RANGE frame, not rows
    assert(p.contains("RangeFrame"), s"strict-dominance RANGE frame missing:\n$p")
  }

  test("q179 count-min runs as partial+final native aggregate") {
    val p = plan("q179_count_min_gate")
    assert(p.contains("partial_count_min"), s"sketch not partial-aggregated:\n$p")
  }

  test("bench forcing executes the declared plan: q84's join survives toRdd but NOT a logical count") {
    // Round-12 measurement-integrity pin. DataFrame.count() re-optimizes
    // the counted plan, and q84's shape (left join to a unique-key
    // aggregate) gets its join ELIMINATED — the round-9 sf1/sf10 bench
    // rows (0.25 s / 0.34 s) were timings of a column-pruned scan while
    // the real bin-join volume at a same-ts sf10 was 48.3B rows. Bench
    // therefore forces via queryExecution.toRdd.count(), which runs the
    // physical plan as planned. This pin fails if either side changes:
    // if count() stops eliminating (the hazard is gone and the comment
    // should go too) or if the executed plan ever loses the join.
    val df = SparkEntry.queries("q84_range_join_binned")(spark, sf)
    assert(df.queryExecution.executedPlan.toString.contains("Join"),
      "q84's executed plan must contain the bin join")
    val counted = df.groupBy().count().queryExecution.optimizedPlan.toString
    assert(!counted.contains("Join"),
      "count() no longer eliminates q84's join — re-evaluate Bench's forcing comment")
  }

  test("bench forcing retains every declared join across the 15 count()-affected join-losers") {
    // Round-12 generalized pin (round-12 verdict task 4): the plan audit
    // found 15 queries whose JOINS were eliminated when Bench forced via
    // a logical DataFrame.count() — the eliminated work was the queries'
    // actual cost (q84's "0.34 s at sf10" was a column-pruned scan; the
    // honest join is 16.6 s). Bench now forces queryExecution.toRdd,
    // which executes the PHYSICAL plan of the returned frame — so the
    // regression-proof invariant is: for each join-loser, the physical
    // plan contains at least as many join operators as the optimized
    // logical plan declares. (Physical planning never merges joins; for
    // the checkpoint-backed queries both sides consistently reflect the
    // post-checkpoint frame.) Counted from plan text because AQE's
    // AdaptiveSparkPlanExec is a leaf node — tree collect can't see
    // inside it, but toString renders the full inner plan.
    val joinLosers = Seq(
      "q122_pagerank_neardup", "q145_ann_recall", "q96_funnel",
      "q214_field_control_capstone", "q65_semantic_dedup",
      "q159_field_control_pruned", "q187_exact_substr_removal",
      "q189_rank_correlation", "q84_range_join_binned",
      "q124_asof_broadcast", "q177_oov_rate", "q191_chi_square",
      "q201_js_divergence", "q208_cramers_v", "q87_gap_fill")
    val physJoin =
      ("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|" +
        "BroadcastNestedLoopJoin|CartesianProduct|AsOfJoin").r
    joinLosers.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sf).queryExecution
      val declared = qe.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.length
      val executed = physJoin.findAllIn(qe.executedPlan.toString).length
      assert(executed >= declared,
        s"$name: benched physical plan has $executed join operators but the " +
          s"optimized logical plan declares $declared — the forcing is " +
          "dropping declared joins again")
      assert(declared >= 1 || executed >= 1,
        s"$name: no joins on either side — the join-loser list is stale for this query")
    }
  }
}
