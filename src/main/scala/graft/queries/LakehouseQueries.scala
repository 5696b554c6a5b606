package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Lakehouse / incremental-maintenance surface: the operations that keep
  * a 100 TB table LIVE rather than just queryable — a streaming
  * foreachBatch merge sink (the production CDC sink pattern, eighth
  * streaming shape), partial-aggregate incremental refresh (incremental
  * view maintenance), row-capped file compaction (the small-file
  * problem), and schema-drift reads (ingest evolution). The reference
  * R's workflow re-reads static CSVs per script run (Tutorial.R:9-13);
  * these queries are the engine-side answer to "and what happens
  * tomorrow, when the table has changed".
  */
object LakehouseQueries extends QueryModule {

  def queries: Seq[(String, NamedQuery)] = Seq(

    // --------------------------------------------------------------- q125
    // Streaming MERGE sink via foreachBatch — the eighth streaming
    // shape, and the one every production pipeline ends in: micro-batch
    // upserts into a keyed state table. The event log streams in 3
    // range-sliced files (maxFilesPerTrigger=1 forces 3 real
    // micro-batches); each batch folds into the running per-user latest
    // state with a batch-local max then a merge against the previous
    // snapshot, written copy-on-write to alternating state dirs (what a
    // table format's commit does). event_id is the CDC sequence: state
    // is the max over a unique key, so the final table is deterministic
    // regardless of how the log is sliced into batches — exactly the
    // idempotence a replayed/ reordered 100 TB ingest needs. Oracle:
    // arg_max over the whole log in one batch query.
    "q125_stream_merge_sink" -> NamedQuery(
      fn = (s, d) => {
        val raw = Tables.load(s, d, "events") // ts untouched here — any physical type passes through
        val slices = TempPaths.dir(s, "q125_slices").getAbsolutePath
        raw.repartitionByRange(3, col("event_id"))
          .write.mode("overwrite").parquet(slices)
        val stateDirs = Seq(
          TempPaths.dir(s, "q125_state0").getAbsolutePath,
          TempPaths.dir(s, "q125_state1").getAbsolutePath)
        // last committed snapshot; None until batch 0 lands. Stale dirs
        // from a previous invocation are never read (batch 0 reads
        // nothing, batch N reads what batch N-1 just wrote).
        @volatile var committed: Option[String] = None
        def packed(df: DataFrame): DataFrame =
          df.select(col("user_id"),
            struct(col("event_id").as("last_event_id"),
              col("event_type").as("last_type"),
              col("value").as("last_value")).as("st"))
            .groupBy("user_id").agg(max(col("st")).as("st"))
        // foreachBatch has no watermark — nothing emits from a no-data
        // batch, so the GateRun scope is pure overhead removal
        graft.streaming.GateRun.withStreamGateConfs(s, new java.io.File(slices)) {
          s.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1).parquet(slices)
            .writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
              val b = packed(batch)
              val merged = committed match {
                case None => b
                case Some(prev) => s.read.parquet(prev).unionByName(b)
                  .groupBy("user_id").agg(max(col("st")).as("st"))
              }
              val dir = stateDirs((id % 2).toInt)
              merged.write.mode("overwrite").parquet(dir)
              committed = Some(dir)
            }.start()
        }
        s.read.parquet(committed.get)
          .select(col("user_id"), col("st.last_event_id").as("last_event_id"),
            col("st.last_type").as("last_type"), col("st.last_value").as("last_value"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, MAX(event_id) AS last_event_id,
               arg_max(event_type, event_id) AS last_type,
               arg_max(value, event_id) AS last_value
        FROM events GROUP BY user_id ORDER BY user_id"""),
      doc = "streaming foreachBatch CDC merge sink, 3 micro-batch upserts vs one-shot oracle (§2.J eighth shape)"),

    // --------------------------------------------------------------- q126
    // Incremental view maintenance: refresh a per-customer aggregate
    // from PARTIAL STATES instead of rescanning history. The mergeable
    // state for (count, sum, avg) is (n, decimal sum) — both partials
    // merge by addition, avg derives at read time. Here the "stored"
    // partial covers orders before the cut and the increment covers the
    // rest; the refresh is partial ∪ partial → re-add — the plan never
    // recombines raw history with raw increment. At 100 TB this is the
    // difference between a nightly full rescan and touching one day of
    // data; it works because the decimal sum is exact and
    // order-independent (same reason dsum exists, Registry parity
    // rules). Oracle: the full recompute it must equal.
    "q126_incremental_agg" -> NamedQuery(
      fn = (s, d) => {
        val cut = "1996-01-01"
        def partial(df: DataFrame): DataFrame =
          df.groupBy("o_custkey")
            .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("sd"))
        val orders = Tables.orders(s, d)
        val stored = partial(orders.filter(col("o_orderdate") < lit(cut)))
        val incr = partial(orders.filter(col("o_orderdate") >= lit(cut)))
        stored.unionByName(incr)
          .groupBy("o_custkey")
          .agg(sum(col("n")).as("n_orders"), sum(col("sd")).as("sd"))
          // mean as the exact rational cents/(100·n), half-away in
          // integer math (PARITY rule 4 fix 2; o_totalprice > 0 so no
          // sign branch) — round(double, 6) splits engines on decimal
          // midpoints (q70 hit one at sf1)
          .withColumn("cents", (col("sd") * lit(100L)).cast("long"))
          .select(col("o_custkey"), col("n_orders"),
            col("sd").cast("double").as("sum_price"),
            (expr("(2 * 10000 * cents + n_orders) div (2 * n_orders)")
              .cast("double") / lit(1e6)).as("avg_price"))
          .orderBy("o_custkey")
      },
      oracle = Some("""
        WITH g AS (
          SELECT o_custkey, COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
          FROM orders GROUP BY o_custkey)
        SELECT o_custkey, n_orders, sum_price,
               CAST((2 * 10000 * cents + n_orders) // (2 * n_orders) AS DOUBLE) / 1e6 AS avg_price
        FROM g ORDER BY o_custkey"""),
      doc = "incremental view maintenance: mergeable (n, decimal-sum) partials, refresh without history rescan"),

    // --------------------------------------------------------------- q127
    // Row-capped compaction round trip — the small-file problem. A
    // 100 TB ingest that lands thousands of tiny files per hour is
    // re-written into bounded-size files: repartition to the write
    // parallelism, cap rows per file (maxRecordsPerFile splits any
    // oversized partition), read the compacted copy back and prove
    // bit-exact fidelity against the source table. The file-count/cap
    // invariants are pinned in LakehouseSpec (file counts depend on
    // physical row layout, so they are a spec concern, not an oracle
    // one).
    "q127_compaction_roundtrip" -> NamedQuery(
      fn = (s, d) => {
        val dir = TempPaths.dir(s, "q127_compact").getAbsolutePath
        Tables.lineitem(s, d)
          .repartition(4)
          .write.option("maxRecordsPerFile", 20000)
          .mode("overwrite").parquet(dir)
        s.read.parquet(dir)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "row-capped small-file compaction + bit-exact read-back (A6 lakehouse maintenance)"),

    // --------------------------------------------------------------- q128
    // Schema-drift read: two ingest slices written with DIFFERENT
    // column sets (a column added mid-stream — the normal state of a
    // long-lived ingest) read back as ONE table via parquet
    // mergeSchema, absent columns null-filled per slice. Row-level
    // oracle: the explicit NULL-padded union. At scale the point is
    // that schema evolution is a METADATA operation — no rewrite of
    // the old slices.
    "q128_schema_drift" -> NamedQuery(
      fn = (s, d) => {
        val dir = TempPaths.dir(s, "q128_drift").getAbsolutePath
        val orders = Tables.orders(s, d)
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$dir/v1")
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .write.mode("overwrite").parquet(s"$dir/v2")
        s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 1
        ORDER BY o_orderkey"""),
      doc = "schema-drift mergeSchema read: column added mid-ingest, old slices untouched (A6 evolution)"),

    // --------------------------------------------------------------- q129
    // Bloom-filter semi-join reduction (ops/BloomOps): the fact scan is
    // pruned by a bloom filter built from the selective dim BEFORE the
    // join — at 100 TB this cuts the join's shuffle to ~selectivity ×
    // |fact| rows, which is exactly what Spark's runtime row-level
    // filtering does when its heuristics fire; here it is explicit and
    // deterministic. The bloom pass admits a superset (never drops a
    // matching row), and the exact join downstream removes false
    // positives, so results are exact at any scale/sizing. Oracle: the
    // plain exact join.
    "q129_bloom_join_reduce" -> NamedQuery(
      fn = (s, d) => {
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        val reduced = graft.ops.BloomOps.bloomReduce(
          Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey")
        reduced.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"), dsum(col("l_extendedprice")).as("sum_price"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "bloom-filter semi-join reduction: fact scan pruned pre-shuffle vs plain-join oracle (§4)"),

    // --------------------------------------------------------------- q130
    // Snapshot time travel: a copy-on-write upsert produces v1 WITHOUT
    // touching v0's files, so both versions stay independently readable
    // — the read side of every table format's "AS OF" clause. v1 is
    // built from v0 + the increment only (the q126 refresh discipline:
    // history is never rescanned), and per-key state is max over a
    // struct keyed by the unique o_orderkey, so both snapshots are
    // deterministic under any batch slicing. At 100 TB time travel is
    // what makes reproducible training runs possible: a job pins the
    // snapshot version and is immune to concurrent ingest. Oracle:
    // both versions recomputed from the raw table, unioned.
    "q130_time_travel" -> NamedQuery(
      fn = (s, d) => {
        val cut = "1996-01-01"
        val base = TempPaths.dir(s, "q130_tt").getAbsolutePath
        val orders = Tables.orders(s, d)
        def latest(df: DataFrame): DataFrame =
          df.select(col("o_custkey"),
            struct(col("o_orderkey").as("k"), col("o_totalprice").as("p"),
              col("o_orderstatus").as("st")).as("s"))
            .groupBy("o_custkey").agg(max(col("s")).as("s"))
        latest(orders.filter(col("o_orderdate") < lit(cut)))
          .write.mode("overwrite").parquet(s"$base/v0")
        s.read.parquet(s"$base/v0")
          .unionByName(latest(orders.filter(col("o_orderdate") >= lit(cut))))
          .groupBy("o_custkey").agg(max(col("s")).as("s"))
          .write.mode("overwrite").parquet(s"$base/v1")
        def readVersion(v: String): DataFrame =
          s.read.parquet(s"$base/$v").select(lit(v).as("version"), col("o_custkey"),
            col("s.k").as("last_orderkey"), col("s.p").as("last_price"),
            col("s.st").as("last_status"))
        readVersion("v0").unionByName(readVersion("v1"))
          .orderBy("version", "o_custkey")
      },
      oracle = Some("""
        SELECT 'v0' AS version, o_custkey,
               MAX(o_orderkey) AS last_orderkey,
               arg_max(o_totalprice, o_orderkey) AS last_price,
               arg_max(o_orderstatus, o_orderkey) AS last_status
        FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY o_custkey
        UNION ALL
        SELECT 'v1' AS version, o_custkey,
               MAX(o_orderkey) AS last_orderkey,
               arg_max(o_totalprice, o_orderkey) AS last_price,
               arg_max(o_orderstatus, o_orderkey) AS last_status
        FROM orders GROUP BY o_custkey
        ORDER BY version, o_custkey"""),
      doc = "snapshot time travel: copy-on-write upsert leaves v0 readable, both versions vs raw-table oracle"),

    // --------------------------------------------------------------- q131
    // Snapshot vacuum: retention deletes superseded snapshot files so
    // storage is bounded by live data, not history — the other half of
    // q130's contract (time travel works UNTIL retention; after it,
    // only the live snapshot answers). Three copy-on-write versions are
    // committed, vacuum retains the newest 1, and the result is read
    // from what survived — so the oracle (latest state over the full
    // table) only matches if the vacuum kept exactly the right files.
    // LakehouseSpec pins the destructive half: superseded dirs gone.
    "q131_snapshot_vacuum" -> NamedQuery(
      fn = (s, d) => {
        val base = TempPaths.dir(s, "q131_vac")
        val orders = Tables.orders(s, d)
        def latest(df: DataFrame): DataFrame =
          df.select(col("o_custkey"),
            struct(col("o_orderkey").as("k"), col("o_totalprice").as("p")).as("s"))
            .groupBy("o_custkey").agg(max(col("s")).as("s"))
        // three commits: <1995, +1995, +rest (each from prev + increment)
        val cuts = Seq("1995-01-01", "1996-01-01")
        latest(orders.filter(col("o_orderdate") < lit(cuts.head)))
          .write.mode("overwrite").parquet(s"${base.getAbsolutePath}/v0")
        def commit(v: Int, batch: DataFrame): Unit =
          s.read.parquet(s"${base.getAbsolutePath}/v${v - 1}")
            .unionByName(latest(batch))
            .groupBy("o_custkey").agg(max(col("s")).as("s"))
            .write.mode("overwrite").parquet(s"${base.getAbsolutePath}/v$v")
        commit(1, orders.filter(col("o_orderdate") >= lit(cuts.head) &&
          col("o_orderdate") < lit(cuts(1))))
        commit(2, orders.filter(col("o_orderdate") >= lit(cuts(1))))
        // vacuum, retain 1: drop every snapshot but the newest
        TempPaths.delete(new java.io.File(base, "v0"))
        TempPaths.delete(new java.io.File(base, "v1"))
        s.read.parquet(s"${base.getAbsolutePath}/v2")
          .select(col("o_custkey"), col("s.k").as("last_orderkey"),
            col("s.p").as("last_price"))
          .orderBy("o_custkey")
      },
      oracle = Some("""
        SELECT o_custkey, MAX(o_orderkey) AS last_orderkey,
               arg_max(o_totalprice, o_orderkey) AS last_price
        FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),
      doc = "snapshot vacuum: 3 copy-on-write commits, retention keeps newest, read from survivors"),

    // --------------------------------------------------------------- q133
    // Data-quality gate — the constraint audit an ingest runs before
    // data is allowed near training: key uniqueness, null rate, value
    // range, and referential integrity, reported as one long-form
    // (chk, n_violations) table. All row-level checks ride ONE scan
    // (a single aggregate of conditional sums — map-side partials, no
    // extra shuffle per check); the FK check is a left-anti join on the
    // key (broadcast or keyed shuffle at scale), counted only. At
    // 100 TB this is the cheapest possible shape: every check is O(scan)
    // and the output is O(#checks). stack() unpivots the one aggregate
    // row so adding a check is one line, not one pass. late_orderdate
    // deliberately fires (>0) so the counting path is exercised, not
    // just the all-zeros happy path.
    "q133_dq_audit" -> NamedQuery(
      fn = (s, d) => {
        val orders = Tables.orders(s, d)
        val row = orders.agg(
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkey"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("nonpositive_price"),
          sum(when(col("o_orderdate") >= lit("1998-01-01"), 1L).otherwise(0L)).as("late_orderdate"))
        val fk = orders.join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_custkey"))
        row.crossJoin(fk)
          .selectExpr("""stack(5,
            'dup_orderkey', dup_orderkey,
            'null_custkey', null_custkey,
            'nonpositive_price', nonpositive_price,
            'late_orderdate', late_orderdate,
            'orphan_custkey', orphan_custkey) AS (chk, n_violations)""")
          .orderBy("chk")
      },
      oracle = Some("""
        SELECT 'dup_orderkey' AS chk,
               CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'null_custkey',
               CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'nonpositive_price',
               CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'late_orderdate',
               CAST(COALESCE(SUM(CASE WHEN o_orderdate >= DATE '1998-01-01' THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'orphan_custkey', CAST(COUNT(*) AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
        ORDER BY chk"""),
      doc = "data-quality gate: uniqueness/null/range checks in one scan + anti-join FK audit, long-form"),

    // --------------------------------------------------------------- q134
    // Change data feed between two committed snapshots — the read side
    // of CDC: given q130-style versions v0 (pre-cut) and v1 (after the
    // upsert), classify every live key as insert (new in v1), update
    // (state advanced), or unchanged. The diff is ONE keyed left join
    // of two O(keys) state tables — never a rescan of the history that
    // produced them; at 100 TB this is what lets a downstream consumer
    // sync incrementally instead of re-reading the table. No deletes in
    // an append-log upsert, so a left join covers the lattice. Oracle:
    // both versions recomputed from the raw table and diffed in SQL.
    "q134_change_feed" -> NamedQuery(
      fn = (s, d) => {
        val cut = "1996-01-01"
        val base = TempPaths.dir(s, "q134_cdf").getAbsolutePath
        val orders = Tables.orders(s, d)
        def latest(df: DataFrame): DataFrame =
          df.groupBy("o_custkey").agg(max(col("o_orderkey")).as("k"))
        latest(orders.filter(col("o_orderdate") < lit(cut)))
          .write.mode("overwrite").parquet(s"$base/v0")
        s.read.parquet(s"$base/v0")
          .unionByName(latest(orders.filter(col("o_orderdate") >= lit(cut))))
          .groupBy("o_custkey").agg(max(col("k")).as("k"))
          .write.mode("overwrite").parquet(s"$base/v1")
        val v0 = s.read.parquet(s"$base/v0").select(col("o_custkey"), col("k").as("k0"))
        val v1 = s.read.parquet(s"$base/v1").select(col("o_custkey"), col("k").as("k1"))
        v1.join(v0, Seq("o_custkey"), "left")
          .select(col("o_custkey"),
            when(col("k0").isNull, "insert")
              .when(col("k0") =!= col("k1"), "update")
              .otherwise("unchanged").as("change"),
            col("k1").as("last_orderkey"))
          .orderBy("o_custkey")
      },
      oracle = Some("""
        WITH v0 AS (
          SELECT o_custkey, MAX(o_orderkey) AS k0
          FROM orders WHERE o_orderdate < DATE '1996-01-01' GROUP BY o_custkey),
        v1 AS (
          SELECT o_custkey, MAX(o_orderkey) AS k1
          FROM orders GROUP BY o_custkey)
        SELECT v1.o_custkey,
               CASE WHEN v0.o_custkey IS NULL THEN 'insert'
                    WHEN v0.k0 <> v1.k1 THEN 'update'
                    ELSE 'unchanged' END AS change,
               v1.k1 AS last_orderkey
        FROM v1 LEFT JOIN v0 ON v1.o_custkey = v0.o_custkey
        ORDER BY v1.o_custkey"""),
      doc = "change data feed: insert/update/unchanged diff of two snapshots, one keyed join of O(keys) state"),

    // --------------------------------------------------------------- q149
    // Merge-on-read deletion vectors — the OTHER half of the delete
    // story: q130/q131 model copy-on-write (deletes rewrite files);
    // deletion vectors instead record (file, row-position) tombstones in
    // a sidecar and apply them AT READ TIME, which is how modern table
    // formats make sparse deletes O(deleted) instead of O(rewritten).
    // Mechanics are real: the base snapshot is immutable parquet, row
    // positions come from the reader's `_metadata.file_path`/`row_index`
    // (the same addressing a format's DV bitmap uses), and the MOR read
    // is a positional LEFT ANTI join. Scale: the DV is bounded by the
    // delete set (sparse by assumption — a dense delete wants COW
    // compaction instead, q127), so the anti join broadcasts the DV and
    // the base scan stays map-only. Oracle: the logical complement —
    // rows whose key escaped the delete predicate.
    "q149_deletion_vectors" -> NamedQuery(
      fn = (s, d) => {
        val out = TempPaths.dir(s, "q149_dv")
        Tables.orders(s, d)
          .repartition(4, col("o_orderkey"))
          .write.mode("overwrite").parquet(out.toString)
        val withPos = s.read.parquet(out.toString)
          .select(col("*"),
            col("_metadata.file_path").as("__file"),
            col("_metadata.row_index").as("__pos"))
        // the "MERGE ... DELETE" that would produce a DV in a real
        // format, stood in by a predicate: positions of every row whose
        // key hits the tombstone condition
        val dv = withPos.filter(col("o_orderkey") % 7 === 0)
          .select("__file", "__pos")
        withPos.join(broadcast(dv), Seq("__file", "__pos"), "left_anti")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_live"),
            dsum(col("o_totalprice")).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      oracle = Some("""
        SELECT o_orderpriority, COUNT(*) AS n_live,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_orderkey % 7 <> 0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""),
      doc = "merge-on-read deletion vectors: positional (file,row) tombstones applied as a broadcast anti join"),

    // --------------------------------------------------------------- q150
    // Dynamic partition pruning — the runtime file-skipping mechanism
    // that makes star joins survive 100 TB: the fact table is laid out
    // partitioned by year, the dim side's qualifying years are only
    // known at RUN time (they come from another table's filter), and
    // Catalyst injects a dynamicpruning subquery into the fact scan's
    // PartitionFilters so non-qualifying partitions are never opened.
    // Static pruning (q88) needs the literal in the query; THIS is the
    // version that works when the predicate arrives through a join —
    // the common star-schema case. The dim side broadcasts (it is a
    // distinct-years aggregate); the plan pin asserts the fact scan
    // carries a dynamicpruningexpression.
    "q150_dpp_star" -> NamedQuery(
      fn = (s, d) => {
        val out = TempPaths.dir(s, "q150_dpp")
        Tables.orders(s, d)
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(out.toString)
        val fact = s.read.parquet(out.toString)
        val years = Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R" && year(col("l_shipdate")) >= 1997)
          .select(year(col("l_shipdate")).as("o_year")).distinct()
        fact.join(broadcast(years), Seq("o_year"))
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("sum_price"))
          .select(col("o_year").cast("long").as("o_year"), col("n_orders"), col("sum_price"))
          .orderBy("o_year")
      },
      oracle = Some("""
        WITH years AS (
          SELECT DISTINCT year(l_shipdate) AS o_year
          FROM lineitem
          WHERE l_returnflag = 'R' AND year(l_shipdate) >= 1997)
        SELECT CAST(o.o_year AS BIGINT) AS o_year, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM (SELECT year(o_orderdate) AS o_year, o_totalprice FROM orders) o
        JOIN years y ON o.o_year = y.o_year
        GROUP BY o.o_year
        ORDER BY o_year"""),
      doc = "dynamic partition pruning: runtime dim-driven partition skip on the year-partitioned fact")
  )
}
