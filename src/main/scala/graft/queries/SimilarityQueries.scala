package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.ops.RelationalOps

/** Similarity search over the `embeddings` table (`array<float>`,
  * builder-prompt north-star): brute-force cosine top-k as the baseline
  * and hyperplane-LSH bucketing as the scale path. Dot products use the
  * native codegen'd [[graft.expr.FloatVecDot]] expression (no per-row
  * array allocation; float widens to double exactly, matching DuckDB's
  * `list_dot_product(CAST(.. AS DOUBLE[]), ..)`). Ranking keys round to
  * 6 decimals first so last-ulp differences can't flip the top-k
  * selection.
  *
  * Scale posture: brute-force all-pairs (q37) is the *correctness
  * baseline* only; the 100 TB path is q38's LSH bucketing — candidates
  * only join within a bucket, so the shuffle is keyed and bounded.
  */
object SimilarityQueries extends QueryModule {

  /** embeddings with L2 norm (float array kept as-is for vec_dot). */
  private def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))

  /** IVF cell count, DATA-SCALED (round-9 sf1 scale-proof): a constant
    * nlist makes in-cell work quadratic — points-per-cell grows with N
    * while the probe count grows with N too, so q40/q156 measured 16–20×
    * for 10× data. nlist = max(8, ceil(sqrt(N))) is the standard IVF
    * sizing rule: cell size ~ sqrt(N), total candidate pairs ~ N^1.5.
    * One bounded 1-row driver pull (F5-class), mirrored in the oracle
    * as a LIMIT subexpression.
    */
  private[graft] def ivfNlist(v: DataFrame): Int = ivfNlistFor(v.count())

  /** nlist from an already-known row count — lets a caller that has
    * counted once (ivfArtifact's stats job) avoid a second count job
    * (round-15 ADVICE: ivfArtifact counted v for nlist, then
    * nearestCellsRanked counted it again for the fan-out bound —
    * three scans per artifact build).
    */
  private[graft] def ivfNlistFor(n: Long): Int =
    math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** The IVF centroids: the `nlist` lowest vec_ids of `v` (a real IVF
    * would k-means them; the plan shape is the same), renamed for the
    * broadcast crossJoin of `nearestCells`.
    */
  private[queries] def ivfCentroids(v: DataFrame, nlist: Int): DataFrame =
    v.orderBy("vec_id").limit(nlist)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"), col("nrm").as("cent_nrm"))

  // The DuckDB side of the IVF family, written once for every oracle;
  // no fragment carries WITH.

  /** `v`: vectors as DOUBLE[] with their L2 norm (`vecs`). */
  private val ivfVecsSql = """
        v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
          FROM embeddings)"""

  /** `cents`: `ivfCentroids` at nlist = `ivfNlist`. */
  private val ivfCentsSql = """
        cents AS (
          SELECT vec_id AS cent_id, emb AS cent_emb, nrm AS cent_nrm
          FROM v ORDER BY vec_id
          LIMIT greatest(8, CAST(ceil(sqrt((SELECT COUNT(*) FROM v))) AS BIGINT)))"""

  /** `v`, `cents` and `assigned` (vec_id, cell, emb, nrm): every vector
    * in its `nearestCells` cell.
    */
  private[queries] val ivfCellsSql = ivfVecsSql + "," + ivfCentsSql + """,
        assigned AS (
          SELECT vec_id, cell, emb, nrm
          FROM (SELECT v.vec_id, c.cent_id AS cell, v.emb, v.nrm,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY round(list_dot_product(v.emb, c.cent_emb) / (v.nrm * c.cent_nrm), 6) DESC,
                                  c.cent_id ASC) AS rn
                FROM v CROSS JOIN cents c)
          WHERE rn = 1)"""

  /** Nearest-cell assignment for the IVF family (k nearest centroids
    * per vector, ties to the lowest cent_id — the family's pinned
    * ranking). Ranks a NARROW (vec_id, cent_id, cent_cos) product and
    * joins the winning cell(s) back to `v` by vec_id, instead of
    * ranking the full-width crossJoin. Round-13 honest re-measure: the
    * full-width window carried every embedding through the partition-
    * local sort — ~350 B/row × N·√N rows is a ~160 GB spill at sf10
    * (the run died with executors unable to heartbeat a GC-bound
    * driver); the narrow product is ~24 B/row (~11 GB, spillable), and
    * the WindowGroupLimit partial truncation cuts it to k rows per
    * vector map-side. The reattach join is keyed on vec_id — linear.
    */
  private[graft] def nearestCells(v: DataFrame, cents: DataFrame, k: Int = 1,
                                  vRows: Option[Long] = None,
                                  centRows: Option[Long] = None): DataFrame =
    nearestCellsRanked(v, cents, k, vRows, centRows).drop("rn")

  /** nearestCells with the rank kept (`rn` = 1..k): lets a consumer that
    * needs BOTH the k=1 assignment and a k=2 probe set (q156) derive
    * them from ONE ranked product instead of running the N×√N
    * centroid-scoring twice — at sf10 one assignment pass is ~145 s, the
    * single most expensive stage in the IVF family (round-14 profile).
    */
  private[queries] def nearestCellsRanked(v: DataFrame, cents: DataFrame, k: Int,
                                          vRows: Option[Long] = None,
                                          centRows: Option[Long] = None): DataFrame = {
    // Size the vector side by the FAN-OUT PRODUCT, not by input bytes
    // (round-15 live catch at sf100): the scan gives ~128 MB partitions
    // of ~300 B embedding rows (~400k rows/task), but each row fans out
    // × nlist centroids before the WindowGroupLimit's per-task partial
    // sort — at sf100 that is 400k × 2237 ≈ 900M product rows ≈ 18 GB
    // PER TASK, with every task sorting (and spilling) concurrently:
    // the measured run was writing ~300 GB of sort spill to a 252 GB
    // disk when killed. A 1000-executor cluster hits the same wall —
    // per-task product volume is the invariant to bound, so repartition
    // the vector side to keep it ≲ 32M narrow rows (~1 GB, sortable
    // in-memory per task). Costs one round-robin shuffle of the RAW
    // vectors (N × ~300 B — at sf100, 1.5 GB, noise next to the product)
    // and up to two count jobs (metadata-fast on parquet-backed frames;
    // callers that already counted — ivfArtifact's stats job — pass the
    // known counts via vRows/centRows so a derived, non-parquet-backed
    // frame is never recomputed just to be sized);
    // skipped entirely when the product is small.
    // Two bounds, both measured (sf10/sf100 A/B, round 15): an UPPER
    // bound — ≲ 32M product rows per task, so the partial sort fits in
    // memory — and a LOWER bound — don't leave cores idle under a big
    // product: the scan's native 13 partitions left 19 of 32 cores idle
    // at sf10 AND kept the fan-out glued to the scan projection (nrm
    // inlined per PAIR, no compact exchange rows), measured 132.4 s vs
    // 11.8 s with the exchange. Don't repartition a small product
    // (< ~2M rows/core) — the exchange would cost more than it buys.
    val productRows = vRows.getOrElse(v.count()) * centRows.getOrElse(cents.count())
    val cores = v.sparkSession.sparkContext.defaultParallelism
    val forSort = math.max(1L, productRows / 32000000L)
    val forCores = math.min(cores.toLong, productRows / 2000000L)
    val targetParts = math.max(forSort, forCores).toInt
    val vp = if (targetParts > v.rdd.getNumPartitions) v.repartition(targetParts) else v
    val slim = vp.crossJoin(broadcast(cents))
      .withColumn("cent_cos",
        round(expr("vec_dot(embedding, cent_emb)") / (col("nrm") * col("cent_nrm")), 6))
      .select(col("vec_id"), col("cent_id"), col("cent_cos"))
    val cells = slim
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("cent_cos").desc, col("cent_id").asc)))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("cent_id").as("cell"), col("rn"))
    v.join(cells, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("rn"), col("embedding"), col("nrm"))
  }

  /** The q209/q210 shared artifact (round-10 verdict task 3, the
    * q169/q170 write-once pattern): the IVF index — every vector
    * assigned to its nearest of nlist = ⌈√N⌉ centroids — written ONCE
    * per (session, dataset) as parquet PARTITIONED BY the cell id, so
    * the serving side can prune its scan to the probed cells instead
    * of re-deriving the assignment (the production build-once /
    * serve-many split). `rebuild = true` (the write-side gate q209)
    * always re-derives; `TempPaths.buildOnce` lets the consumer build
    * on first touch in any query order. Returns (path, nlist).
    */
  private def ivfArtifact(s: SparkSession, d: String, rebuild: Boolean = false): (String, Int) = {
    val v = vecs(s, d)
    // ONE stats job feeds the nlist sizing, the assignment fan-out bound
    // AND the build key's content fingerprint (round-15 ADVICE ×2: the
    // build previously ran three separate count jobs, and the _built_
    // marker was keyed by dataset PATH only — a regenerated dataset at
    // the same path would silently serve stale cells and fail the hash
    // gate confusingly. Row count + max vec_id is a cheap content
    // fingerprint: ScaleData regeneration changes N, and any reseeding
    // that preserves N still changes the id frontier).
    val stats = v.agg(count(lit(1)), max(col("vec_id"))).head()
    val n = stats.getLong(0)
    val maxId = if (stats.isNullAt(1)) "empty" else stats.get(1).toString
    val nlist = ivfNlistFor(n)
    val dir = TempPaths.buildOnce(s, "q209_ivf_index", Seq(d, n, maxId), rebuild) { dir =>
      // co-locate each cell's rows on one task before the dynamic-
      // partition write: without this every write task holds rows of
      // EVERY cell (the join-back is keyed by vec_id), so the writer
      // emits tasks × nlist small files and sorts per task; keyed by
      // cell it's one file per cell and the per-task sort is a few
      // cells' rows (round-15 q209 profile — the write was half the
      // build after the assignment fix)
      nearestCells(v, ivfCentroids(v, nlist), vRows = Some(n), centRows = Some(math.min(nlist.toLong, n)))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(new java.io.File(dir, "index").getAbsolutePath)
    }
    (new java.io.File(dir, "index").getAbsolutePath, nlist)
  }

  /** q210's router + partition-pruned index scan, shared with the sf100
    * slice dump (`sliceDumps`) so the serving plan the subset oracle
    * value-checks is literally the plan q210 runs: probe set = the 20
    * md5-lowest vec_ids scored against BROADCAST centroids (nprobe = 2),
    * probed cell ids = one bounded ≤ 2×20-row driver pull (F5-class)
    * turned into plan literals, index scan PARTITION-PRUNED to those
    * cells. Returns (qa probe→cell assignments, probed cell ids, pruned
    * index scan).
    */
  private def ivfServingParts(s: SparkSession, d: String,
                              nQueries: Int = 20, nprobe: Int = 2): (DataFrame, Array[Long], DataFrame) = {
    val (path, nlist) = ivfArtifact(s, d)
    val v = vecs(s, d)
    val cents = ivfCentroids(v, nlist)
    val qs = v.orderBy(md5(col("vec_id").cast("string"))).limit(nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("nrm").as("qnrm"))
    // localCheckpoint so the Q×nlist probe-scoring product is evaluated
    // ONCE and shared between the driver pull below and the serving join
    // every consumer builds on qa (round-15 ADVICE: the frame was
    // executed twice, three times in q156 — the q218 checkpointed-
    // ranked-product pattern)
    val qa = RelationalOps.topKPerGroup(
      Seq("qid"), Seq(col("cent_cos").desc, col("cent_id").asc), nprobe)(
      qs.crossJoin(broadcast(cents))
        .withColumn("cent_cos",
          round(expr("vec_dot(qemb, cent_emb)") / (col("qnrm") * col("cent_nrm")), 6)))
      .select(col("qid"), col("cent_id").as("cell"), col("qemb"), col("qnrm"))
      .localCheckpoint(false)
    val probedCells = qa.select("cell").distinct().collect().map(_.getLong(0))
    // cast the inferred partition column BEFORE the isin filter so the
    // pruned-scan predicate does not depend on partition-column type
    // inference defaults (round-15 ADVICE); the cast is a deterministic
    // expression over the partition attribute, so partition pruning
    // still applies (PlanAuditSpec pins the pruned file count)
    val index = s.read.parquet(path)
      .withColumn("cell", col("cell").cast("long"))
      .filter(col("cell").isin(probedCells.map(Long.box): _*))
    (qa, probedCells, index)
  }

  /** Builder tooling (graft.SliceDump): the frames backing the sf100
    * KEY-SAMPLED subset oracle for the q209/q210 family, whose FULL
    * DuckDB oracle (re-assigning every vector to its cell, a |V| × √|V|
    * product) exceeded the box at sf100 (round-12 record). The checker
    * (tools/check_sf100_slices.py) recomputes independently in DuckDB:
    *   - assign_sample: artifact rows for the deterministic vec_id
    *     sample md5(vec_id) LIKE '00%' (1/256) — cell, embedding, and
    *     nrm each re-derived from the SOURCE embeddings table and
    *     compared value-for-value;
    *   - assign_all (vec_id, cell only): lets DuckDB re-aggregate q209's
    *     occupancy output and re-derive q210's serving answer from the
    *     sample-verified index without re-assigning 6M vectors;
    *   - probed_slice: the partition-pruned serving input (exactly the
    *     cells q210 scans), embeddings included so the checker rescores
    *     every candidate pair and re-ranks the top-5 itself.
    */
  def sliceDumps(s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val (path, _) = ivfArtifact(s, d)
    val art = s.read.parquet(path).withColumn("cell", col("cell").cast("long"))
    val (_, _, index) = ivfServingParts(s, d)
    Seq(
      "q209_assign_all" -> art.select("vec_id", "cell"),
      "q209_assign_sample" -> art
        .filter(md5(col("vec_id").cast("string")).startsWith("00"))
        .select("vec_id", "cell", "embedding", "nrm"),
      "q210_probed_slice" -> index.select("cell", "vec_id", "embedding", "nrm"))
  }

  /** Integer-weight pseudo-random hyperplane p as a float-array literal:
    * w[p][k] = (7k + 3p) mod 11 − 5 (exactly representable in float, so
    * Spark and the DuckDB oracle agree bit-for-bit).
    */
  private def planeDotSql(p: Int): String = {
    val ws = (0 until 64).map(k => s"CAST(${(7 * k + 3 * p) % 11 - 5} AS FLOAT)").mkString(",")
    s"vec_dot(embedding, array($ws))"
  }

  def queries: Seq[(String, NamedQuery)] = Seq(

    // ---------------------------------------------------------------- q37
    // Brute-force cosine top-3 neighbors per vector (baseline ANN
    // oracle; rank key = round(cos, 6) with vec-id tie-break).
    "q37_cosine_topk" -> NamedQuery(
      fn = (s, d) => {
        val guarded = graft.ops.ScaleGuards.requireAllPairsSafe(vecs(s, d), "q37_cosine_topk",
          successor = "q210_ivf_bounded_serving (partition-pruned index scan) / q144_pq_adc_topk")
        val a = guarded.select(col("vec_id").as("v1"), col("embedding").as("emb1"), col("nrm").as("n1"))
        val b = guarded.select(col("vec_id").as("v2"), col("embedding").as("emb2"), col("nrm").as("n2"))
        // compute each dot once on the upper triangle, then explode the
        // mirrored pair (cos is symmetric) — halves the dominant cost in
        // a single pass (a union of the same plan would recompute it)
        val pairs = a.join(b, col("v1") < col("v2"))
          .withColumn("cos", round(expr("vec_dot(emb1, emb2)") / (col("n1") * col("n2")), 6))
          .select(explode(array(
            struct(col("v1"), col("v2"), col("cos")),
            struct(col("v2").as("v1"), col("v1").as("v2"), col("cos")))).as("p"))
          .select("p.*")
        // native top-k aggregate (graft.expr.TopKPairs): partial k-sized
        // buffers instead of sorting all 4M pairs per partition
        pairs.groupBy("v1")
          .agg(expr("top_k_pairs(cos, v2, 3)").as("topk"))
          .select(col("v1"), expr("inline(topk)"))
          .select(col("v1"), col("payload").as("v2"), col("score").as("cos"))
          .orderBy("v1", "v2")
      },
      oracle = Some("WITH" + ivfVecsSql + """,
        pairs AS (
          SELECT a.vec_id AS v1, b.vec_id AS v2,
                 round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos
          FROM v a JOIN v b ON a.vec_id <> b.vec_id)
        SELECT v1, v2, cos
        FROM (SELECT v1, v2, cos,
                     row_number() OVER (PARTITION BY v1 ORDER BY cos DESC, v2 ASC) AS rn
              FROM pairs)
        WHERE rn <= 3
        ORDER BY v1, v2"""),
      doc = "brute-force cosine top-k via native vec_dot — GUARDED all-pairs recall oracle (fails fast >50k vectors); production successors: q210 bounded IVF serving (sf1->sf10 exp 0.28), q144 PQ-ADC"),

    // ---------------------------------------------------------------- q38
    // Hyperplane LSH bucketing: 4 integer-weight pseudo-random planes,
    // bucket = sign bits; per-vector bucket + bucket occupancy.
    "q38_lsh_buckets" -> NamedQuery(
      fn = (s, d) => {
        val base = vecs(s, d)
        val withDots = (0 until 4).foldLeft(base) { (df, p) =>
          df.withColumn(s"dot$p", expr(planeDotSql(p)))
        }
        val bucketed = withDots.withColumn("bucket",
          concat((0 until 4).map(p => when(col(s"dot$p") >= 0, "1").otherwise("0")): _*))
        val sizes = bucketed.groupBy("bucket").agg(count(lit(1)).as("bucket_n"))
        bucketed.join(broadcast(sizes), Seq("bucket"))
          .select("vec_id", "bucket", "bucket_n")
          .orderBy("vec_id")
      },
      oracle = Some {
        val dots = (0 until 4).map(p =>
          s"list_dot_product(emb, list_transform(range(0, 64), k -> CAST((7*k + 3*$p) % 11 - 5 AS DOUBLE))) AS dot$p")
          .mkString(",\n                 ")
        val bits = (0 until 4).map(p => s"CASE WHEN dot$p >= 0 THEN '1' ELSE '0' END").mkString(" || ")
        s"""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        dots AS (
          SELECT vec_id,
                 $dots
          FROM v),
        bucketed AS (SELECT vec_id, $bits AS bucket FROM dots),
        sizes AS (SELECT bucket, COUNT(*) AS bucket_n FROM bucketed GROUP BY 1)
        SELECT vec_id, bucket, bucket_n
        FROM bucketed JOIN sizes USING (bucket)
        ORDER BY vec_id"""
      },
      doc = "hyperplane LSH bucketing, the ANN scale path (north-star)"),

    // ---------------------------------------------------------------- q39
    // Embedding-cosine near-dup: pair counts per label pair above a
    // cosine threshold (clusters share labels in the testdata).
    "q39_neardup_pairs" -> NamedQuery(
      fn = (s, d) => {
        val guarded = graft.ops.ScaleGuards.requireAllPairsSafe(vecs(s, d), "q39_neardup_pairs",
          successor = "q38/q40 LSH-IVF cell joins; q65/q176 semantic dedup")
        val a = guarded.select(col("vec_id").as("v1"), col("label").as("label_a"),
          col("embedding").as("emb1"), col("nrm").as("n1"))
        val b = guarded.select(col("vec_id").as("v2"), col("label").as("label_b"),
          col("embedding").as("emb2"), col("nrm").as("n2"))
        a.join(b, col("v1") < col("v2"))
          .withColumn("cos", round(expr("vec_dot(emb1, emb2)") / (col("n1") * col("n2")), 6))
          .filter(col("cos") >= 0.9)
          .groupBy("label_a", "label_b")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("label_a", "label_b")
      },
      oracle = Some("""
        WITH v AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
                 sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
          FROM embeddings),
        pairs AS (
          SELECT a.label AS label_a, b.label AS label_b,
                 round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos
          FROM v a JOIN v b ON a.vec_id < b.vec_id)
        SELECT label_a, label_b, COUNT(*) AS n_pairs
        FROM pairs
        WHERE cos >= 0.9
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "embedding-cosine near-dup pair counts — GUARDED all-pairs recall oracle (fails fast >50k vectors); production successors: q38/q40 LSH-IVF cell joins, q65/q176 semantic dedup"),

    // ---------------------------------------------------------------- q40
    // IVF-style ANN: coarse-quantize every vector to its nearest of 8
    // deterministic centroids (the 8 lowest vec_ids — a real IVF would
    // k-means these; the *plan shape* is identical: broadcast centroids,
    // assign, then search only within the cell), then top-1 neighbor
    // within each cell. The inner search joins on the cell key — the
    // shuffle is bucketed, never all-pairs.
    "q40_ivf_ann" -> NamedQuery(
      fn = (s, d) => {
        val v = vecs(s, d)
        val cents = ivfCentroids(v, ivfNlist(v))
        // assign: nearest centroid by rounded cosine, ties to lowest
        // cent_id. CHECKPOINTED (q176's pattern, applied round 14): the
        // assignment is consumed by BOTH sides of the in-cell join and
        // the final vec list — without the cut the N×√N centroid scoring
        // (the family's most expensive stage, ~145 s at sf10) re-runs
        // per branch, 3× the whole query's necessary work
        val assigned = nearestCells(v, cents).localCheckpoint(false)
        // search within cell
        val a = assigned.select(col("cell"), col("vec_id").as("v1"), col("embedding").as("emb1"), col("nrm").as("n1"))
        val b = assigned.select(col("cell"), col("vec_id").as("v2"), col("embedding").as("emb2"), col("nrm").as("n2"))
        // NARROW the pair stream before the per-group rank (round-14, the
        // nearestCells round-13 fix applied to the search side): the rank's
        // shuffle+sort otherwise carries BOTH embeddings per candidate pair
        // (~600 B/row × N·√N rows); projected to (v1, v2, cos) it moves
        // 24 B/row — the dots are computed in the join's codegen stage and
        // never rematerialized
        val pairs = a.join(b, Seq("cell")).filter(col("v1") =!= col("v2"))
          .withColumn("cos", round(expr("vec_dot(emb1, emb2)") / (col("n1") * col("n2")), 6))
          .select("v1", "v2", "cos")
        val nn = RelationalOps.topKPerGroup(Seq("v1"), Seq(col("cos").desc, col("v2").asc), 1)(pairs)
          .select(col("v1").as("vec_id"), col("v2").as("nn_id"), col("cos").as("nn_cos"))
        assigned.select("vec_id", "cell")
          .join(nn, Seq("vec_id"), "left")
          .orderBy("vec_id")
      },
      oracle = Some("WITH" + ivfCellsSql + """,
        pairs AS (
          SELECT a.vec_id AS v1, b.vec_id AS v2,
                 round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) AS cos
          FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        nn AS (
          SELECT v1 AS vec_id, v2 AS nn_id, cos AS nn_cos
          FROM (SELECT v1, v2, cos,
                       row_number() OVER (PARTITION BY v1 ORDER BY cos DESC, v2 ASC) AS rn
                FROM pairs)
          WHERE rn = 1)
        SELECT a.vec_id, a.cell, nn.nn_id, nn.nn_cos
        FROM assigned a LEFT JOIN nn ON a.vec_id = nn.vec_id
        ORDER BY a.vec_id"""),
      doc = "IVF-style ANN: broadcast centroids, bucketed in-cell search (north-star scale path)"),

    // ---------------------------------------------------------------- q45
    // Centroid computation (the "training" step q40's quantizer stands
    // in for): per-label mean embedding via posexplode → (label, pos)
    // partial-aggregated avg. Output flattened to rows (label, pos, c) —
    // the shuffle is keyed by (label, pos), O(labels × dims) bytes.
    "q45_label_centroids" -> NamedQuery(
      fn = (s, d) => {
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "pos")
          .agg(round(avg(col("v").cast("double")), 6).as("c"))
          .withColumn("pos", col("pos").cast("long"))
          .orderBy("label", "pos")
      },
      oracle = Some("""
        SELECT label, CAST(k AS BIGINT) AS pos,
               round(AVG(CAST(emb[k + 1] AS DOUBLE)), 6) AS c
        FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        CROSS JOIN generate_series(0, 63) g(k)
        GROUP BY label, k
        ORDER BY label, pos"""),
      doc = "per-label mean embedding (IVF centroid training; north-star)"),

    // ---------------------------------------------------------------- q72
    // One k-means Lloyd iteration (the inner loop of IVF/SemDeDup
    // centroid training) as a pure DataFrame program: assign every
    // vector to its nearest of 8 seed centroids by squared L2
    // (broadcast, rounded-before-argmin), then measure how far each
    // centroid would move. The movement is computed from exact DECIMAL
    // component sums — shift = sqrt(Σ_pos (Σv_p − n·old_p)²)/n — so the
    // answer is bit-identical at any partition count (a double-sum mean
    // would be order-dependent). Iterating = re-running with the new
    // centroids; each round is one broadcast join + one keyed shuffle.
    "q72_kmeans_step" -> NamedQuery(
      fn = (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val v = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val cents = v.orderBy("vec_id").limit(8)
          .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))
        val assigned = RelationalOps.topKPerGroup(
          Seq("vec_id"), Seq(col("d2").asc, col("cent_id").asc), 1)(
          v.crossJoin(broadcast(cents))
            .withColumn("d2", round(
              expr("vec_dot(embedding, embedding)")
                - lit(2.0) * expr("vec_dot(embedding, cent_emb)")
                + expr("vec_dot(cent_emb, cent_emb)"), 6)))
          .select(col("vec_id"), col("cent_id").as("cell"), col("embedding"))
        val sums = assigned
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cell", "pos")
          .agg(count(lit(1)).as("n"),
            sum(round(col("v").cast("double"), 6).cast(DecimalType(18, 6))).as("sv"))
        val old = cents
          .select(col("cent_id").as("cell"), posexplode(col("cent_emb")).as(Seq("pos", "ov")))
          .withColumn("ovd", round(col("ov").cast("double"), 6).cast(DecimalType(18, 6)))
        sums.join(old.select("cell", "pos", "ovd"), Seq("cell", "pos"))
          .withColumn("dd", col("sv") - col("n") * col("ovd"))
          .groupBy("cell")
          .agg(max(col("n")).as("n_assigned"),
            round(sqrt(sum(col("dd") * col("dd")).cast("double")) / max(col("n")), 6).as("shift"))
          .orderBy("cell")
      },
      oracle = Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        cents AS (SELECT vec_id AS cent_id, emb AS cent_emb FROM v ORDER BY vec_id LIMIT 8),
        assigned AS (
          SELECT vec_id, cell, emb FROM (
            SELECT v.vec_id, c.cent_id AS cell, v.emb,
                   row_number() OVER (PARTITION BY v.vec_id
                     ORDER BY round(list_dot_product(v.emb, v.emb)
                               - 2.0 * list_dot_product(v.emb, c.cent_emb)
                               + list_dot_product(c.cent_emb, c.cent_emb), 6) ASC,
                              c.cent_id ASC) AS rn
            FROM v CROSS JOIN cents c)
          WHERE rn = 1),
        comp AS (
          SELECT cell, unnest(emb) AS val,
                 unnest(range(0, len(emb))) AS pos
          FROM assigned),
        sums AS (
          SELECT cell, pos, COUNT(*) AS n,
                 SUM(CAST(round(val, 6) AS DECIMAL(18,6))) AS sv
          FROM comp GROUP BY 1, 2),
        old AS (
          SELECT cent_id AS cell,
                 CAST(round(unnest(cent_emb), 6) AS DECIMAL(18,6)) AS ovd,
                 unnest(range(0, len(cent_emb))) AS pos
          FROM cents),
        diff AS (
          SELECT s.cell, s.n, (s.sv - s.n * o.ovd) AS dd
          FROM sums s JOIN old o ON o.cell = s.cell AND o.pos = s.pos)
        SELECT cell, MAX(n) AS n_assigned,
               round(sqrt(CAST(SUM(dd * dd) AS DOUBLE)) / MAX(n), 6) AS shift
        FROM diff
        GROUP BY cell
        ORDER BY cell"""),
      doc = "k-means Lloyd step: broadcast assign + exact-decimal centroid shift (north-star)"),

    // ---------------------------------------------------------------- q83
    // Int8 symmetric quantization — the vector-DB ingest step (4× memory
    // cut before ANN serving). Per vector: scale = max|x|/127, q_i =
    // clamp(floor(x_i/scale + 0.5), ±127). floor(x+0.5) instead of
    // round(): pure IEEE double ops are bit-identical across engines,
    // while round()'s half-handling is engine-defined. Map-only (one
    // projection over the embedding array — no shuffle before the
    // presentation sort); output carries the quantized checksum + error
    // stats, not the int8 payload.
    "q83_int8_quantize" -> NamedQuery(
      fn = (s, d) => {
        Tables.embeddings(s, d)
          .withColumn("mx", expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
          .withColumn("scale", expr("CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END"))
          .withColumn("q", expr(
            "transform(embedding, x -> CAST(greatest(-127.0, least(127.0, floor(CAST(x AS DOUBLE) / scale + 0.5d))) AS INT))"))
          .select(
            col("vec_id"),
            round(col("scale"), 6).as("scale_r"),
            expr("CAST(aggregate(q, 0L, (acc, v) -> acc + v) AS BIGINT)").as("sum_q"),
            expr("md5(array_join(q, ','))").as("q_md5"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        m AS (
          SELECT vec_id, emb,
                 list_max(list_transform(emb, x -> abs(x))) AS mx
          FROM v),
        sc AS (
          SELECT vec_id, emb,
                 CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale
          FROM m),
        q AS (
          SELECT vec_id, scale,
                 list_transform(emb, x ->
                   CAST(greatest(-127.0, least(127.0, floor(x / scale + 0.5))) AS INTEGER)) AS qv
          FROM sc)
        SELECT vec_id, round(scale, 6) AS scale_r,
               CAST(list_sum(qv) AS BIGINT) AS sum_q,
               md5(array_to_string(qv, ',')) AS q_md5
        FROM q
        ORDER BY vec_id"""),
      doc = "int8 symmetric embedding quantization, engine-exact (north-star vector ingest)"),

    // --------------------------------------------------------------- q119
    // Entity-resolution blocked fuzzy join (string-similarity sibling of
    // the embedding queries above): best fuzzy match per DISTINCT name.
    // Canonicalize FIRST — records collapse to the distinct-name table
    // (with support counts) before any pair is scored, so the quadratic
    // work runs on the VOCABULARY, not the record table. (The first cut
    // of this query blocked records directly: 20k parts over 64 distinct
    // names at sf0.1 made the blocked fan-out ~34M levenshtein pairs and
    // a 1000-second query; the same blocks over the 64 names cost ~4k
    // pairs. Canonicalize-then-match is THE scale decision for fuzzy ER
    // — distinct values grow sublinearly with records.)
    // Candidates come from a UNION of two blocking passes — (first
    // token, exact length) and (second token, exact length); the length
    // component is the classic ER length filter (|len1 − len2| ≤ edit
    // distance). Survivors get an exact `levenshtein` verify and a
    // per-name best pick (min distance, name tie-break). Never
    // all-pairs: candidates exist only inside a (token, length) block;
    // at 100 TB the block key grows entropy (more tokens, char
    // prefixes) and hot blocks salt (q79/q90's SkewOps).
    "q119_fuzzy_blocked_join" -> NamedQuery(
      fn = (s, d) => {
        val names = Tables.part(s, d)
          .groupBy(col("p_name").as("n")).agg(count(lit(1)).as("n_parts"))
          // parity: getItem(i) yields NULL past the last token, and a NULL
          // block key drops the row from the equi-join (NULL never equals);
          // the oracle mirrors that with nullif(split_part(...), '') —
          // DuckDB's split_part alone would return '' and spuriously block
          // all short names together on general data
          .withColumn("t1", split(col("n"), " ").getItem(0))
          .withColumn("t2", split(col("n"), " ").getItem(1))
          .withColumn("len", length(col("n")))
        def blocked(tok: String): DataFrame =
          names.select(col("n").as("n1"), col(tok).as("b"), col("len"))
            .join(
              names.select(col("n").as("n2"), col(tok).as("b"), col("len")),
              Seq("b", "len"))
            .filter(col("n1") =!= col("n2"))
            .select("n1", "n2")
        val cands = blocked("t1").unionByName(blocked("t2")).distinct()
        val scored = cands.withColumn("dist", levenshtein(col("n1"), col("n2")).cast("long"))
        val best = Window.partitionBy("n1").orderBy(col("dist"), col("n2"))
        scored.withColumn("rn", row_number().over(best))
          .filter(col("rn") === 1)
          .join(names.select(col("n").as("n1"), col("n_parts")), Seq("n1"))
          .select(
            col("n1").as("p_name"),
            col("n2").as("best_match"),
            col("dist"),
            col("n_parts"))
          .orderBy("p_name")
      },
      oracle = Some("""
        WITH names AS (
          SELECT p_name AS n, COUNT(*) AS n_parts,
                 nullif(split_part(p_name, ' ', 1), '') AS t1,
                 nullif(split_part(p_name, ' ', 2), '') AS t2,
                 length(p_name) AS len
          FROM part GROUP BY p_name),
        cand AS (
          SELECT a.n AS n1, b.n AS n2
          FROM names a JOIN names b ON a.t1 = b.t1 AND a.len = b.len AND a.n <> b.n
          UNION
          SELECT a.n, b.n
          FROM names a JOIN names b ON a.t2 = b.t2 AND a.len = b.len AND a.n <> b.n),
        scored AS (
          SELECT n1, n2, CAST(levenshtein(n1, n2) AS BIGINT) AS dist FROM cand)
        SELECT n1 AS p_name, n2 AS best_match, dist, nm.n_parts
        FROM (SELECT *, row_number() OVER (PARTITION BY n1 ORDER BY dist, n2) AS rn
              FROM scored) s
        JOIN names nm ON nm.n = s.n1
        WHERE rn = 1
        ORDER BY p_name"""),
      doc = "ER blocked fuzzy join: canonicalize, union-of-blockings, levenshtein, best match per name"),

    // --------------------------------------------------------------- q142
    // Product-quantization assignment — the compression step between
    // brute cosine (q37) and IVF cells (q40) in an ANN index build: the
    // 64-dim embedding splits into 4 sub-vectors of 16 dims, each
    // assigned to its nearest of 8 per-subspace codes, so a vector
    // stores as 4 bytes instead of 256. Codebooks here are the first 8
    // vectors' sub-slices (deterministic stand-in for a k-means
    // codebook — q72 is the Lloyd step that would train them).
    // Shapes: vectors explode to (vec, sub) rows — map-only; the
    // codebook is 32 rows broadcast on the 4-key "sub" equi-join (hash
    // join, not a nested-loop product); argmin is one keyed window.
    // L2² via three vec_dot calls (|a−c|² = a·a − 2a·c + c·c) keeps
    // the hot loop in the native codegen'd expression; round(...,6)
    // before the argmin so a last-ulp difference can't flip a code
    // (q37 recipe). At 100 TB the codebook stays K·M rows (broadcast),
    // the explode is linear, and nothing shuffles except the final
    // per-vec regroup — keyed by vec_id.
    "q142_pq_assign" -> NamedQuery(
      fn = (s, d) => {
        val subIdx = array((0 until 4).map(lit): _*)
        val subs = Tables.embeddings(s, d)
          .select(col("vec_id"), explode(subIdx).as("sub"), col("embedding"))
          .select(col("vec_id"), col("sub"),
            expr("slice(embedding, sub * 16 + 1, 16)").as("sv"))
        val codes = Tables.embeddings(s, d).filter(col("vec_id") < 8)
          .select(col("vec_id").as("code"), explode(subIdx).as("sub"), col("embedding"))
          .select(col("code"), col("sub"),
            expr("slice(embedding, sub * 16 + 1, 16)").as("cv"))
        val scored = subs.join(broadcast(codes), Seq("sub"))
          .withColumn("d2", round(
            expr("vec_dot(sv, sv) - 2 * vec_dot(sv, cv) + vec_dot(cv, cv)"), 6))
        val best = scored
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id", "sub").orderBy(col("d2").asc, col("code").asc)))
          .filter(col("rn") === 1)
        best.groupBy("vec_id")
          .agg(
            max(when(col("sub") === 0, col("code"))).as("code_0"),
            max(when(col("sub") === 1, col("code"))).as("code_1"),
            max(when(col("sub") === 2, col("code"))).as("code_2"),
            max(when(col("sub") === 3, col("code"))).as("code_3"),
            exactSum(col("d2"), 6).as("qerr"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH s4 AS (SELECT unnest(range(0, 4)) AS sub),
        subs AS (
          SELECT vec_id, sub,
                 CAST(list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS DOUBLE[]) AS sv
          FROM embeddings CROSS JOIN s4),
        codes AS (
          SELECT vec_id AS code, sub,
                 CAST(list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS DOUBLE[]) AS cv
          FROM embeddings CROSS JOIN s4
          WHERE vec_id < 8),
        scored AS (
          SELECT v.vec_id, v.sub, c.code,
                 round(list_dot_product(v.sv, v.sv)
                       - 2 * list_dot_product(v.sv, c.cv)
                       + list_dot_product(c.cv, c.cv), 6) AS d2
          FROM subs v JOIN codes c USING (sub)),
        best AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                         ORDER BY d2, code) AS rn
            FROM scored)
          WHERE rn = 1)
        SELECT vec_id,
               MAX(CASE WHEN sub = 0 THEN code END) AS code_0,
               MAX(CASE WHEN sub = 1 THEN code END) AS code_1,
               MAX(CASE WHEN sub = 2 THEN code END) AS code_2,
               MAX(CASE WHEN sub = 3 THEN code END) AS code_3,
               CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) AS qerr
        FROM best
        GROUP BY vec_id
        ORDER BY vec_id"""),
      doc = "product-quantization assignment: 4x16-dim subspaces, 8 codes each, broadcast codebook argmin"),

    // --------------------------------------------------------------- q144
    // PQ asymmetric-distance (ADC) top-k search — the QUERY side of
    // q142's index: each query vector precomputes a 4×8 lookup table of
    // sub-distances to the codebook, and every encoded corpus vector's
    // distance is then four table lookups + three additions — no
    // corpus-side vector math at all, which is the whole point of PQ.
    // Shapes: the encode is q142's (broadcast codebook, keyed argmin,
    // keyed regroup to wide codes); the LUTs flatten to one 32-slot
    // array per query and broadcast (|queries|×32 doubles); the ADC pass
    // over the corpus is map-only; the only post-encode shuffle is the
    // top-k partial aggregate (|queries|×k rows) via the native
    // top_k_pairs — never a corpus-wide sort. ADC sums run in
    // DECIMAL(18,6) over rounded-6 entries (exact, order-independent).
    // At 100 TB: corpus cost is linear scan × O(1) per query, the
    // classic ADC trade — the bounded query sample is the contract
    // (queries here: vec_id % 100 = 0).
    "q144_pq_adc_topk" -> NamedQuery(
      fn = (s, d) => {
        val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
        val subIdx = array((0 until 4).map(lit): _*)
        val emb = Tables.embeddings(s, d)
        val subs = emb.select(col("vec_id"), explode(subIdx).as("sub"), col("embedding"))
          .select(col("vec_id"), col("sub"), expr("slice(embedding, sub * 16 + 1, 16)").as("sv"))
        val codes = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("code"), explode(subIdx).as("sub"), col("embedding"))
          .select(col("code"), col("sub"), expr("slice(embedding, sub * 16 + 1, 16)").as("cv"))
        // encode: q142's assignment, regrouped wide — (vec_id, c0..c3)
        val encoded = subs.join(broadcast(codes), Seq("sub"))
          .withColumn("d2", round(
            expr("vec_dot(sv, sv) - 2 * vec_dot(sv, cv) + vec_dot(cv, cv)"), 6))
          .withColumn("rn", row_number().over(
            Window.partitionBy("vec_id", "sub").orderBy(col("d2").asc, col("code").asc)))
          .filter(col("rn") === 1)
          .groupBy("vec_id")
          .agg(
            max(when(col("sub") === 0, col("code"))).as("c0"),
            max(when(col("sub") === 1, col("code"))).as("c1"),
            max(when(col("sub") === 2, col("code"))).as("c2"),
            max(when(col("sub") === 3, col("code"))).as("c3"))
        // per-query LUT: d2(query sub-vector, code) flattened to a
        // 32-slot array indexed by sub*8 + code (array_sort pins the
        // collect_list order)
        val lut = subs.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("sub"), col("sv").as("qv"))
          .join(broadcast(codes), Seq("sub"))
          .withColumn("d2", round(
            expr("vec_dot(qv, qv) - 2 * vec_dot(qv, cv) + vec_dot(cv, cv)"), 6))
          .groupBy("qid")
          .agg(array_sort(collect_list(struct(
            (col("sub") * 8 + col("code")).as("idx"), col("d2").as("d2")))).as("tab"))
          .select(col("qid"), expr("transform(tab, e -> e.d2)").as("tab"))
        // ADC: four lookups per (corpus vec, query) — map-side only
        val adc = encoded.crossJoin(broadcast(lut))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("adc",
            (element_at(col("tab"), (col("c0") + 1).cast("int")).cast(dec6) +
             element_at(col("tab"), (col("c1") + 9).cast("int")).cast(dec6) +
             element_at(col("tab"), (col("c2") + 17).cast("int")).cast(dec6) +
             element_at(col("tab"), (col("c3") + 25).cast("int")).cast(dec6)).cast("double"))
        adc.groupBy("qid")
          .agg(expr("top_k_pairs(-adc, vec_id, 3)").as("topk"))
          .select(col("qid"), expr("inline(topk)"))
          .select(col("qid"), col("payload").as("nn_id"), round(-col("score"), 6).as("adc_d2"))
          .orderBy("qid", "nn_id")
      },
      oracle = Some("""
        WITH s4 AS (SELECT unnest(range(0, 4)) AS sub),
        subs AS (
          SELECT vec_id, sub,
                 CAST(list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS DOUBLE[]) AS sv
          FROM embeddings CROSS JOIN s4),
        codes AS (
          SELECT vec_id AS code, sub,
                 CAST(list_slice(embedding, sub * 16 + 1, sub * 16 + 16) AS DOUBLE[]) AS cv
          FROM embeddings CROSS JOIN s4
          WHERE vec_id < 8),
        scored AS (
          SELECT v.vec_id, v.sub, c.code,
                 round(list_dot_product(v.sv, v.sv)
                       - 2 * list_dot_product(v.sv, c.cv)
                       + list_dot_product(c.cv, c.cv), 6) AS d2
          FROM subs v JOIN codes c USING (sub)),
        encoded AS (
          SELECT vec_id,
                 MAX(CASE WHEN sub = 0 THEN code END) AS c0,
                 MAX(CASE WHEN sub = 1 THEN code END) AS c1,
                 MAX(CASE WHEN sub = 2 THEN code END) AS c2,
                 MAX(CASE WHEN sub = 3 THEN code END) AS c3
          FROM (SELECT * FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                               ORDER BY d2, code) AS rn
                  FROM scored) WHERE rn = 1)
          GROUP BY vec_id),
        lut AS (
          SELECT vec_id AS qid, sub, code, d2 FROM scored WHERE vec_id % 100 = 0),
        adc AS (
          SELECT l0.qid, e.vec_id,
                 CAST(CAST(l0.d2 AS DECIMAL(18,6)) + CAST(l1.d2 AS DECIMAL(18,6))
                    + CAST(l2.d2 AS DECIMAL(18,6)) + CAST(l3.d2 AS DECIMAL(18,6))
                   AS DOUBLE) AS adc
          FROM encoded e
          JOIN lut l0 ON l0.sub = 0 AND l0.code = e.c0
          JOIN lut l1 ON l1.qid = l0.qid AND l1.sub = 1 AND l1.code = e.c1
          JOIN lut l2 ON l2.qid = l0.qid AND l2.sub = 2 AND l2.code = e.c2
          JOIN lut l3 ON l3.qid = l0.qid AND l3.sub = 3 AND l3.code = e.c3
          WHERE e.vec_id <> l0.qid)
        SELECT qid, nn_id, adc_d2 FROM (
          SELECT qid, vec_id AS nn_id, round(adc, 6) AS adc_d2,
                 row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rn
          FROM adc)
        WHERE rn <= 3
        ORDER BY qid, nn_id"""),
      doc = "PQ ADC top-k search: broadcast 32-slot LUT per query, map-only corpus pass, partial top-k"),

    // --------------------------------------------------------------- q145
    // ANN recall audit — the quality gate every approximate index needs
    // before it replaces the exact path: recall@10 of the IVF search
    // (q40's index: nlist = ⌈√N⌉ broadcast centroids, probe = the
    // query's own cell) against exact brute-force ground truth, per
    // query. Ground truth costs one corpus pass against the BROADCAST
    // BOUNDED query sample (the 200 md5-lowest vec_ids — the q210/q147
    // seeded posture, FIXED in N) with the native partial top-k — the
    // shuffle is |queries|×10 rows, never a corpus-wide sort; that
    // linear-scan-per-query cost is inherent to ground truth and is why
    // the audit runs on a bounded sample, not every vector. The IVF
    // side only scores within probed cells. Low recall here = add probe
    // cells or retrain centroids (q72). Round-13 honest re-measure
    // caught the PREVIOUS shape (query sample = 1% OF THE CORPUS,
    // centroids = constant 8) at 1038.5 s / decade-2 exp 2.42 at sf10 —
    // a %-of-N sample makes ground truth N²/100 and a constant nlist
    // makes the IVF leg quadratic too, and neither matched the audit
    // contract this comment already declared ("a sample" of "q40's
    // index" — q40 has been √N-sized since round 9).
    "q145_ann_recall" -> NamedQuery(
      fn = (s, d) => {
        val v = vecs(s, d)
        // the audited index is q209's ARTIFACT, probed through the same
        // router q210 serves with (nprobe = 1 ≡ the query's own cell:
        // identical rule + tie-break as the build, so the router cell
        // equals the artifact cell) — the audit must not re-derive the
        // assignment inline; re-deriving cost 797.8 s at sf10 where the
        // artifact probe is partition-pruned to ≤ |queries| cells
        val (qa, _, index) = ivfServingParts(s, d, nQueries = 200, nprobe = 1)
        val qs = v.orderBy(md5(col("vec_id").cast("string"))).limit(200)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("nrm").as("qnrm"))
        val exact = v.crossJoin(broadcast(qs))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(
            expr("vec_dot(embedding, qemb)") / (col("nrm") * col("qnrm")), 6))
          .groupBy("qid")
          .agg(expr("top_k_pairs(cos, vec_id, 10)").as("topk"))
          .select(col("qid"), expr("inline(topk)"))
          .select(col("qid"), col("payload").as("nn"))
        val ivf = index.join(broadcast(qa), Seq("cell"))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cos", round(
            expr("vec_dot(embedding, qemb)") / (col("nrm") * col("qnrm")), 6))
          .groupBy("qid")
          .agg(expr("top_k_pairs(cos, vec_id, 10)").as("topk"))
          .select(col("qid"), expr("inline(topk)"))
          .select(col("qid"), col("payload").as("nn"))
        val hits = exact.join(ivf, Seq("qid", "nn"))
          .groupBy("qid").agg(count(lit(1)).as("hits"))
        val ivfN = ivf.groupBy("qid").agg(count(lit(1)).as("ivf_n"))
        qs.select("qid")
          .join(ivfN, Seq("qid"), "left")
          .join(hits, Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("ivf_n"), lit(0L)).as("ivf_n"),
            coalesce(col("hits"), lit(0L)).as("hits"),
            round(coalesce(col("hits"), lit(0L)).cast("double") / 10.0, 6).as("recall_at_10"))
          .orderBy("qid")
      },
      oracle = Some("WITH" + ivfCellsSql + """,
        qs AS (SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm FROM v
               ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 200),
        exact AS (
          SELECT qid, vec_id AS nn FROM (
            SELECT q.qid, a.vec_id,
                   row_number() OVER (PARTITION BY q.qid ORDER BY
                     round(list_dot_product(a.emb, q.qemb) / (a.nrm * q.qnrm), 6) DESC,
                     a.vec_id ASC) AS rn
            FROM v a CROSS JOIN qs q WHERE a.vec_id <> q.qid)
          WHERE rn <= 10),
        qa AS (
          SELECT a.cell, a.vec_id AS qid, a.emb AS qemb, a.nrm AS qnrm
          FROM assigned a JOIN qs q ON a.vec_id = q.qid),
        ivf AS (
          SELECT qid, vec_id AS nn FROM (
            SELECT q.qid, a.vec_id,
                   row_number() OVER (PARTITION BY q.qid ORDER BY
                     round(list_dot_product(a.emb, q.qemb) / (a.nrm * q.qnrm), 6) DESC,
                     a.vec_id ASC) AS rn
            FROM assigned a JOIN qa q ON a.cell = q.cell AND a.vec_id <> q.qid)
          WHERE rn <= 10),
        hits AS (
          SELECT e.qid, COUNT(*) AS hits
          FROM exact e JOIN ivf i ON e.qid = i.qid AND e.nn = i.nn
          GROUP BY e.qid),
        ivfn AS (SELECT qid, COUNT(*) AS ivf_n FROM ivf GROUP BY qid)
        SELECT q.qid,
               COALESCE(n.ivf_n, 0) AS ivf_n,
               COALESCE(h.hits, 0) AS hits,
               round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10.0, 6) AS recall_at_10
        FROM qs q
        LEFT JOIN ivfn n ON q.qid = n.qid
        LEFT JOIN hits h ON q.qid = h.qid
        ORDER BY q.qid"""),
      doc = "ANN recall audit: IVF top-10 vs exact ground truth per sampled query, recall@10"),

    // --------------------------------------------------------------- q156
    // Multi-probe IVF (nprobe=2) — the accuracy knob q145's recall
    // audit exists to justify — RE-SCOPED round 15 to the SERVING
    // posture (round-14 verdict task 3): the previous full-corpus form
    // (every vector probes its 2 nearest cells, Θ(2N√N) candidates)
    // was the one family gate you could not run at 100× — it now lives
    // as the GUARDED recall oracle q218. Here, a FIXED bounded probe
    // set (the 200 md5-lowest vec_ids — the q147/q171/q189 posture,
    // scale-independent) is served against q209's prebuilt
    // cell-partitioned index, and for each probe the nprobe=1 answer
    // (own cell only) is reported NEXT TO the nprobe=2 answer — the
    // boundary-recovery measurement this query exists for, now
    // Θ(Q·nprobe·√N) rows read (partition-pruned scan + broadcast
    // probes) instead of a full-corpus self-join. Deterministic:
    // rounded cosines, cent_id and vec_id tie-breaks.
    "q156_ivf_multiprobe" -> NamedQuery(
      fn = (s, d) => {
        val (path, nlist) = ivfArtifact(s, d)
        val v = vecs(s, d)
        val cents = ivfCentroids(v, nlist)
        // qs is read twice (probe scoring + the final left-join spine):
        // checkpoint the 200-row limit so the N·log-N md5 sort runs once
        val qs = v.orderBy(md5(col("vec_id").cast("string"))).limit(200)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("nrm").as("qnrm"))
          .localCheckpoint(false)
        // probe → 2 nearest cells, rank KEPT (rank 1 = the probe's own
        // assignment cell, same ranking the artifact was built with);
        // checkpointed so the 200×nlist scoring product is evaluated
        // ONCE and shared by the driver pull, nn1 and nn2 (round-15
        // ADVICE — the q218 checkpointed-ranked-product pattern)
        val qa = qs.crossJoin(broadcast(cents))
          .withColumn("cent_cos",
            round(expr("vec_dot(qemb, cent_emb)") / (col("qnrm") * col("cent_nrm")), 6))
          .withColumn("probe_rank", row_number().over(
            Window.partitionBy("qid").orderBy(col("cent_cos").desc, col("cent_id").asc)))
          .filter(col("probe_rank") <= 2)
          .select(col("qid"), col("cent_id").as("cell"), col("probe_rank"),
            col("qemb"), col("qnrm"))
          .localCheckpoint(false)
        // bounded ≤ 2×200-row driver pull (F5-class) → plan literals →
        // the index scan is PARTITION-PRUNED to the probed cells; cell
        // cast BEFORE the isin so the pruning predicate doesn't depend
        // on partition-column type inference (round-15 ADVICE)
        val probedCells = qa.select("cell").distinct().collect().map(_.getLong(0))
        val index = s.read.parquet(path)
          .withColumn("cell", col("cell").cast("long"))
          .filter(col("cell").isin(probedCells.map(Long.box): _*))
        val pairs = index.join(broadcast(qa), Seq("cell"))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cos",
            round(expr("vec_dot(embedding, qemb)") / (col("nrm") * col("qnrm")), 6))
          .select(col("qid"), col("probe_rank"), col("vec_id"), col("cos"))
        def top1(df: DataFrame, nn: String, cs: String) =
          df.groupBy("qid").agg(expr("top_k_pairs(cos, vec_id, 1)").as("t"))
            .select(col("qid"), expr("inline(t)"))
            .select(col("qid"), col("payload").as(nn), col("score").as(cs))
        val nn1 = top1(pairs.filter(col("probe_rank") === 1), "nn1", "cos1")
        val nn2 = top1(pairs, "nn2", "cos2")
        qs.select("qid")
          .join(nn1, Seq("qid"), "left")
          .join(nn2, Seq("qid"), "left")
          .withColumn("gained",
            when(col("nn1").isNull && col("nn2").isNotNull, 1)
              .when(col("cos2") > col("cos1"), 1).otherwise(0))
          .orderBy("qid")
      },
      oracle = Some("WITH" + ivfCellsSql + """,
        qs AS (
          SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm
          FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 200),
        qa AS (
          SELECT qid, cell, probe_rank, qemb, qnrm FROM (
            SELECT q.qid, c.cent_id AS cell, q.qemb, q.qnrm,
                   row_number() OVER (PARTITION BY q.qid ORDER BY
                     round(list_dot_product(q.qemb, c.cent_emb) / (q.qnrm * c.cent_nrm), 6) DESC,
                     c.cent_id ASC) AS probe_rank
            FROM qs q CROSS JOIN cents c)
          WHERE probe_rank <= 2),
        pairs AS (
          SELECT q.qid, q.probe_rank, a.vec_id,
                 round(list_dot_product(a.emb, q.qemb) / (a.nrm * q.qnrm), 6) AS cos
          FROM assigned a JOIN qa q ON a.cell = q.cell AND a.vec_id <> q.qid),
        nn1 AS (
          SELECT qid, vec_id AS nn1, cos AS cos1 FROM (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
            FROM pairs WHERE probe_rank = 1)
          WHERE rn = 1),
        nn2 AS (
          SELECT qid, vec_id AS nn2, cos AS cos2 FROM (
            SELECT qid, vec_id, cos,
                   row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn
            FROM pairs)
          WHERE rn = 1)
        SELECT q.qid, nn1.nn1, nn1.cos1, nn2.nn2, nn2.cos2,
               CAST(CASE WHEN nn1.nn1 IS NULL AND nn2.nn2 IS NOT NULL THEN 1
                         WHEN nn2.cos2 > nn1.cos1 THEN 1 ELSE 0 END AS INT) AS gained
        FROM qs q
        LEFT JOIN nn1 ON q.qid = nn1.qid
        LEFT JOIN nn2 ON q.qid = nn2.qid
        ORDER BY q.qid"""),
      doc = "multi-probe IVF serving audit: 200 md5-bounded probes against the q209 index, nprobe=1 vs nprobe=2 NN side by side (boundary-recovery gain); full-corpus form demoted to guarded q218"),

    // --------------------------------------------------------------- q218
    // The FULL-CORPUS multiprobe self-join q156 was until round 15 —
    // kept as the GUARDED recall oracle for the bounded serving path
    // (the q34/q37/q39 posture): every vector probes its 2 nearest
    // cells, Θ(2N√N) candidate pairs, which at 100 TB is the query you
    // never run (round-14 verdict). ScaleGuards fails it fast past 50k
    // vectors, naming q156/q210 as the production successors; raise
    // spark.graft.allPairs.maxRows for a deliberate oracle run.
    // Shapes unchanged from the round-14 engineering: ONE checkpointed
    // ranked centroid product serves both sides, narrow pair stream.
    "q218_multiprobe_full_recall" -> NamedQuery(
      fn = (s, d) => {
        val v = graft.ops.ScaleGuards.requireAllPairsSafe(vecs(s, d),
          "q218_multiprobe_full_recall (full-corpus IVF multiprobe, Θ(N^1.5))",
          successor = "q156_ivf_multiprobe (bounded probes through the q209 artifact) / q210_ivf_bounded_serving")
        val cents = ivfCentroids(v, ivfNlist(v))
        // ONE ranked k=2 centroid product, checkpointed, serves BOTH
        // sides (round 14): the db side is the rn=1 assignment, the
        // query side keeps rn ≤ 2 — previously two separate
        // nearestCells runs scored the N×√N product twice (and the
        // final vec list re-derived it a third time), ~145 s per pass
        // at sf10
        val ranked = nearestCellsRanked(v, cents, 2).localCheckpoint(false)
        // db side: each vector lives in its ONE nearest cell
        val assigned = ranked.filter(col("rn") === 1).drop("rn")
        // query side: probe the TWO nearest cells
        val probes = ranked.drop("rn")
          .select(col("vec_id").as("v1"), col("cell"),
            col("embedding").as("emb1"), col("nrm").as("n1"))
        // narrow (v1, vec_id, cos) before the rank — q40's round-14 note:
        // the multiprobe candidate stream is 2N·√N rows, the widest in the
        // family; ranking it full-width was the measured 544.7 s at sf10
        val pairs = probes.join(assigned, Seq("cell"))
          .filter(col("v1") =!= col("vec_id"))
          .withColumn("cos", round(
            expr("vec_dot(emb1, embedding)") / (col("n1") * col("nrm")), 6))
          .select(col("v1"), col("vec_id"), col("cos"))
        val nn = RelationalOps.topKPerGroup(
          Seq("v1"), Seq(col("cos").desc, col("vec_id").asc), 1)(pairs)
          .select(col("v1").as("vec_id"), col("vec_id").as("nn_id"), col("cos").as("nn_cos"))
        v.select("vec_id")
          .join(nn, Seq("vec_id"), "left")
          .orderBy("vec_id")
      },
      oracle = Some("WITH" + ivfVecsSql + "," + ivfCentsSql + """,
        scored AS (
          SELECT v.vec_id, c.cent_id, v.emb, v.nrm,
                 row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   round(list_dot_product(v.emb, c.cent_emb) / (v.nrm * c.cent_nrm), 6) DESC,
                   c.cent_id ASC) AS rn
          FROM v CROSS JOIN cents c),
        assigned AS (
          SELECT vec_id, cent_id AS cell, emb, nrm FROM scored WHERE rn = 1),
        probes AS (
          SELECT vec_id AS v1, cent_id AS cell, emb AS emb1, nrm AS n1
          FROM scored WHERE rn <= 2),
        pairs AS (
          SELECT q.v1, a.vec_id AS v2,
                 round(list_dot_product(q.emb1, a.emb) / (q.n1 * a.nrm), 6) AS cos
          FROM probes q JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.v1),
        nn AS (
          SELECT v1 AS vec_id, v2 AS nn_id, cos AS nn_cos
          FROM (SELECT v1, v2, cos,
                       row_number() OVER (PARTITION BY v1 ORDER BY cos DESC, v2 ASC) AS rn
                FROM pairs)
          WHERE rn = 1)
        SELECT v.vec_id, nn.nn_id, nn.nn_cos
        FROM v LEFT JOIN nn ON v.vec_id = nn.vec_id
        ORDER BY v.vec_id"""),
      doc = "GUARDED full-corpus multiprobe recall oracle (fails fast >50k vectors) — the pre-round-15 q156; production successors: q156 bounded gain audit, q210 bounded serving"),

    // --------------------------------------------------------------- q176
    // SemDedup (Abbas et al. 2023): semantic dedup over embeddings —
    // assign every vector to its nearest IVF centroid, build the
    // cosine-similarity graph ONLY within each cell, connect components,
    // keep one representative (min vec_id) per cluster. The cell scoping
    // IS the algorithm's scale move (and its approximation — cross-cell
    // near-dups are deliberately missed), so the oracle replicates it
    // exactly. Components reuse DedupOps.duplicateClusters (checkpointed
    // min-label rounds) against a recursive-CTE oracle, as in q55.
    // τ = 0.35: the testdata's random-ish embedding geometry caps
    // pairwise cosine at ~0.51, so 0.35 plays the role 0.9+ plays for
    // real sentence-embedding models (non-vacuous: ~50 edges at sf0.01,
    // ~570 at sf0.1).
    "q176_semdedup_keeplist" -> NamedQuery(
      fn = (s, d) => {
        implicit val sp = s
        val v = vecs(s, d)
        val cents = ivfCentroids(v, ivfNlist(v))
        val assigned = nearestCells(v, cents)
          // vec-grain, consumed by BOTH sides of the in-cell join and
          // the components seed — without the cut the centroid
          // assignment (crossJoin + topKPerGroup) recomputes per branch
          .localCheckpoint(false)
        val a = assigned.select(col("cell"), col("vec_id").as("d1"),
          col("embedding").as("emb1"), col("nrm").as("n1"))
        val b = assigned.select(col("cell"), col("vec_id").as("d2"),
          col("embedding").as("emb2"), col("nrm").as("n2"))
        val edges = a.join(b, Seq("cell")).filter(col("d1") < col("d2"))
          .filter(round(expr("vec_dot(emb1, emb2)") / (col("n1") * col("n2")), 6) >= 0.35)
          .select("d1", "d2")
        val ids = v.select(col("vec_id").as("doc_id"))
        graft.ops.DedupOps.duplicateClusters(edges, ids)
          .select(col("doc_id").as("vec_id"), col("cluster"),
            (col("doc_id") === col("cluster")).as("keep"))
          .orderBy("vec_id")
      },
      oracle = Some("WITH RECURSIVE" + ivfCellsSql + """,
        p AS (
          SELECT a.vec_id AS d1, b.vec_id AS d2
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 6) >= 0.35),
        edges AS (
          SELECT d1 AS src, d2 AS dst FROM p
          UNION ALL
          SELECT d2, d1 FROM p),
        reach(vec_id, lab) AS (
          SELECT vec_id, vec_id AS lab FROM v
          UNION
          SELECT e.dst AS vec_id, r.lab
          FROM reach r JOIN edges e ON e.src = r.vec_id),
        labels AS (
          SELECT vec_id, MIN(lab) AS cluster FROM reach GROUP BY vec_id)
        SELECT vec_id, cluster, (vec_id = cluster) AS keep
        FROM labels
        ORDER BY vec_id"""),
      doc = "SemDedup keep-list: IVF-cell-scoped cosine graph -> components -> one representative per cluster (north-star)"),

    // --------------------------------------------------------------- q189
    // Spearman rank correlation between the two retrieval legs q171
    // fuses — per probe, how differently do dense (cosine) and lexical
    // (shared-token) ranking order the SAME candidate universe? The
    // retrieval-audit number that says whether hybrid fusion is even
    // buying diversity (rho ≈ 1 means the legs are redundant). Ranks
    // are row_numbers with pinned tiebreaks (the deterministic-ties
    // variant of Spearman, declared as such); rho = 1 − 6·Σd²/(n(n²−1))
    // is exact integer arithmetic into ONE double division — emitted
    // unrounded, bit-exact in both engines. Probe set is the q171
    // bounded id-sample; the dense product is probe-keyed broadcast
    // fan-out, the lexical leg is tok-keyed.
    "q189_rank_correlation" -> NamedQuery(
      fn = (s, d) => {
        val v = vecs(s, d)
        // BOUNDED probe set (200 md5-lowest vec_ids, the q210/q147
        // seeded posture — FIXED in N): the round-13 honest re-measure
        // caught the previous 1%-of-corpus sample making the dense leg
        // |corpus| × |corpus|/100 (756.7 s / decade-2 exp 2.03 at sf10).
        // With a bounded probe set the dense leg is one corpus pass per
        // audit batch — linear in N — which is what this doc already
        // declared ("the q171 bounded id-sample").
        val probes = v.orderBy(md5(col("vec_id").cast("string"))).limit(200)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("nrm").as("p_nrm"))
        // ONE probe_id partitioning end-to-end (guide §2.4): the old
        // shape exchanged by probe_id for the dense window, by
        // (probe_id, doc_id) for the shared aggregate AND both sides of
        // the dense⋈shared sort-merge join, then by probe_id again for
        // the lexical window — 7 exchanges. Rewritten as a UNION of the
        // dense pairs (sh = 0) with the raw shared-token join rows
        // (sh = 1) into one (probe, doc) aggregate: max(cos) recovers
        // the unique dense cosine, sum(sh) IS the old left-joined
        // coalesce(shared, 0) (every tok-join pair also exists in the
        // dense universe, so the group set is exactly v × probes), and
        // both rank windows stack over the aggregate's probe_id
        // partitioning — 2 exchanges total. The probe-token side is
        // broadcast (bounded: 200 probes, declared), so the corpus token
        // table is never shuffled at all.
        val dense = v.crossJoin(broadcast(probes))
          .withColumn("cos",
            round(expr("vec_dot(embedding, p_emb)") / (col("nrm") * col("p_nrm")), 6))
          .select(col("probe_id"), col("vec_id").as("doc_id"), col("cos"),
            lit(0L).as("sh"))
        val toks = Tables.documents(s, d)
          .join(v.select(col("vec_id").as("doc_id")), Seq("doc_id"))
          .select(col("doc_id"),
            explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tok"))
          .localCheckpoint(false) // doc side + probe side of the shared-token join
        val ptoks = toks.join(probes.select(col("probe_id").as("doc_id")), Seq("doc_id"))
          .select(col("doc_id").as("probe_id"), col("tok"))
        val tokRows = toks.join(broadcast(ptoks), Seq("tok"))
          .select(col("probe_id"), col("doc_id"),
            lit(null).cast("double").as("cos"), lit(1L).as("sh"))
        val ranked = dense.unionByName(tokRows)
          .repartition(col("probe_id"))
          .groupBy("probe_id", "doc_id")
          .agg(max(col("cos")).as("cos"), sum(col("sh")).as("shared"))
          .withColumn("r_dense", row_number().over(
            Window.partitionBy("probe_id").orderBy(col("cos").desc, col("doc_id").asc)))
          .withColumn("r_lex", row_number().over(
            Window.partitionBy("probe_id").orderBy(col("shared").desc, col("doc_id").asc)))
          .withColumn("diff", col("r_dense") - col("r_lex"))
        ranked.groupBy("probe_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("diff") * col("diff")).as("sum_d2"))
          .withColumn("rho",
            lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
              (col("n_docs") * (col("n_docs") * col("n_docs") - 1L)).cast("double"))
          .select("probe_id", "n_docs", "sum_d2", "rho")
          .orderBy("probe_id")
      },
      oracle = Some("WITH" + ivfVecsSql + """,
        probes AS (
          SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
          FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 200),
        dense AS (
          SELECT p.probe_id, v.vec_id AS doc_id,
                 row_number() OVER (PARTITION BY p.probe_id
                   ORDER BY round(list_dot_product(v.emb, p.p_emb) / (v.nrm * p.p_nrm), 6) DESC,
                            v.vec_id ASC) AS r_dense
          FROM v CROSS JOIN probes p),
        toks AS (
          SELECT DISTINCT d.doc_id, unnest(regexp_split_to_array(trim(d.text), '\s+')) AS tok
          FROM documents d JOIN v ON v.vec_id = d.doc_id),
        ptoks AS (
          SELECT t.doc_id AS probe_id, t.tok
          FROM toks t JOIN probes p ON p.probe_id = t.doc_id),
        shared AS (
          SELECT p.probe_id, t.doc_id, COUNT(*) AS shared
          FROM toks t JOIN ptoks p USING (tok)
          GROUP BY 1, 2),
        ranked AS (
          SELECT d.probe_id, d.doc_id, d.r_dense,
                 row_number() OVER (PARTITION BY d.probe_id
                   ORDER BY COALESCE(s.shared, 0) DESC, d.doc_id ASC) AS r_lex
          FROM dense d LEFT JOIN shared s
            ON s.probe_id = d.probe_id AND s.doc_id = d.doc_id)
        SELECT probe_id, COUNT(*) AS n_docs,
               CAST(SUM((r_dense - r_lex) * (r_dense - r_lex)) AS BIGINT) AS sum_d2,
               1.0 - 6.0 * CAST(SUM((r_dense - r_lex) * (r_dense - r_lex)) AS DOUBLE)
                     / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE) AS rho
        FROM ranked
        GROUP BY probe_id
        ORDER BY probe_id"""),
      doc = "Spearman rank correlation between dense and lexical retrieval legs per probe: the fusion-diversity audit, exact-integer rank math (retrieval audit)"),

    // --------------------------------------------------------------- q209
    // IVF index BUILD through the gate (round-10 verdict task 3, write
    // side of the q169/q170 pattern): assign every vector to its
    // nearest of nlist = ⌈√N⌉ centroids and persist the assignment as
    // parquet partitioned by cell — the build-once artifact q210
    // serves from. The build is Θ(N·√N) by design (N vectors × nlist
    // broadcast centroid scores — the cost every IVF trainer pays,
    // amortized over all serving); the gate output is the per-cell
    // occupancy profile READ BACK from the artifact, hash-matched
    // against DuckDB re-deriving the assignment relationally — so the
    // write+read round-trip AND the assignment are proven together.
    "q209_ivf_index_build" -> NamedQuery(
      fn = (s, d) => {
        val (path, _) = ivfArtifact(s, d, rebuild = true)
        s.read.parquet(path)
          .withColumn("cell", col("cell").cast("long"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"),
            min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
          .orderBy("cell")
      },
      oracle = Some("WITH" + ivfVecsSql + "," + ivfCentsSql + """,
        assigned AS (
          SELECT vec_id, cell
          FROM (SELECT v.vec_id, c.cent_id AS cell,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY round(list_dot_product(v.emb, c.cent_emb) / (v.nrm * c.cent_nrm), 6) DESC,
                                  c.cent_id ASC) AS rn
                FROM v CROSS JOIN cents c)
          WHERE rn = 1)
        SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
        FROM assigned
        GROUP BY cell
        ORDER BY cell"""),
      doc = "IVF index build: sqrt(N) centroids, cell-partitioned parquet artifact, per-cell occupancy hash-matched through the write+read round-trip (north-star)"),

    // --------------------------------------------------------------- q210
    // The PRODUCTION ANN SERVING shape (round-10 verdict task 3 — the
    // gate the sf10 scale-proof was missing): a FIXED bounded probe
    // set (the 20 md5-lowest vec_ids, scale-independent like
    // q144/q145's sampling) served against q209's prebuilt index with
    // nprobe = 2. The serving plan is the linear-or-better path the
    // self-join gates (q40/q156, designed Θ(N^1.5)) exist to justify:
    // probe-to-centroid scoring is Q × nlist against BROADCAST
    // centroids, the probed cell ids are a bounded ≤ 2Q driver pull
    // (F5-class) turned into plan literals, so the index scan is
    // PARTITION-PRUNED to the probed cells — Θ(Q·nprobe·√N) rows read
    // and scored, sublinear in N — and the top-5 per probe rides the
    // native partial top_k_pairs aggregate. Oracle re-derives the
    // whole thing relationally.
    "q210_ivf_bounded_serving" -> NamedQuery(
      fn = (s, d) => {
        val (qa, _, index) = ivfServingParts(s, d)
        index.join(broadcast(qa), Seq("cell"))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cos",
            round(expr("vec_dot(embedding, qemb)") / (col("nrm") * col("qnrm")), 6))
          .groupBy("qid")
          .agg(expr("top_k_pairs(cos, vec_id, 5)").as("topk"))
          .select(col("qid"), expr("inline(topk)"))
          .select(col("qid"), col("payload").as("nn"), col("score").as("cos"))
          .orderBy("qid", "nn")
      },
      oracle = Some("WITH" + ivfCellsSql + """,
        qs AS (
          SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm
          FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 20),
        qa AS (
          SELECT qid, cell, qemb, qnrm
          FROM (SELECT q.qid, c.cent_id AS cell, q.qemb, q.qnrm,
                       row_number() OVER (PARTITION BY q.qid
                         ORDER BY round(list_dot_product(q.qemb, c.cent_emb) / (q.qnrm * c.cent_nrm), 6) DESC,
                                  c.cent_id ASC) AS rn
                FROM qs q CROSS JOIN cents c)
          WHERE rn <= 2),
        pairs AS (
          SELECT q.qid, a.vec_id AS nn,
                 round(list_dot_product(a.emb, q.qemb) / (a.nrm * q.qnrm), 6) AS cos
          FROM assigned a JOIN qa q ON a.cell = q.cell AND a.vec_id <> q.qid)
        SELECT qid, nn, cos
        FROM (SELECT qid, nn, cos,
                     row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn ASC) AS rn
              FROM pairs)
        WHERE rn <= 5
        ORDER BY qid, nn"""),
      doc = "production ANN serving: fixed md5-bounded probe set, nprobe=2 against the prebuilt cell-partitioned IVF index, partition-pruned scan + broadcast probes + native top-k (north-star scale path)")
  )
}
