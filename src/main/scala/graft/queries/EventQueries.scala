package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.expr.ExactSums
import graft.ops.RelationalOps

/** Event-stream shapes (SURVEY.md §2.B8/J) over the `events` table —
  * the tracking-event analog (FIXTURES.md role mapping). `ts` is read as
  * epoch-nanos LongType (see [[graft.Tables.events]]); all time math is
  * exact integer arithmetic so the DuckDB oracle (`epoch_ns`) matches
  * exactly.
  */
object EventQueries extends QueryModule {

  private val SessionGapUs = 30L * 60 * 1000 * 1000 // 30 min in μs
  private val HourUs = 3600L * 1000 * 1000

  /** 30-minute-gap session ids per user: `prev_ts`, `new_session` (1
    * where a gap opens a session) and `session_id`, their running sum.
    */
  private def withSessionIds(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > SessionGapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** The DuckDB side of `withSessionIds` up to `new_session`: CTEs `t`
    * and `m`, no WITH.
    */
  private val sessionGapsSql = s"""
        t AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
          FROM events),
        m AS (
          SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > $SessionGapUs THEN 1 ELSE 0 END AS new_session
          FROM t)"""

  /** `sessionGapsSql` plus `sid`, the BIGINT session_id per event. */
  private[queries] val sessionIdsSql = s"""$sessionGapsSql,
        sid AS (
          SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM m)"""

  /** The as-of join's two sides over events `e`: probes are the
    * non-signup events (event_id, user_id, `clock`), quotes the largest
    * signup value per (user_id, `clock` as `quoteClock`), unique per key
    * and time so the match is deterministic.
    */
  private def signupSides(e: DataFrame, clock: String, quoteClock: String): (DataFrame, DataFrame) = {
    val probes = e.filter(col("event_type") =!= "signup")
      .select(col("event_id"), col("user_id"), col(clock))
    val quotes = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("q_user"), col(clock).as(quoteClock))
      .agg(max(col("value")).as("signup_value"))
      .withColumnRenamed("q_user", "user_id")
    (probes, quotes)
  }

  /** The DuckDB side of `signupSides`: `e` (events with `clockSql` as
    * `clock`), `probes` and `quotes`; no WITH.
    */
  private def signupSidesSql(clockSql: String, clock: String, quoteClock: String): String = s"""
        e AS (
          SELECT event_id, user_id, $clockSql AS $clock, event_type, value FROM events),
        probes AS (
          SELECT event_id, user_id, $clock FROM e WHERE event_type <> 'signup'),
        quotes AS (
          SELECT user_id, $clock AS $quoteClock, MAX(value) AS signup_value
          FROM e WHERE event_type = 'signup' GROUP BY 1, 2)"""

  def queries: Seq[(String, NamedQuery)] = Seq(

    // ---------------------------------------------------------------- q11
    // B8/B11/B12 (Tutorial.R:138-142,192; all coverages.R:355-357):
    // IN-list event filter + exclusive range filter + null filter.
    "q11_event_filters" -> NamedQuery(
      fn = (s, d) => {
        Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase", "error"))
          .filter(col("value") > 50.0 && col("value") < 500.0)
          .filter(col("props").isNotNull)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            exactSum(col("value")).as("sum_value"))
          .withColumn("avg_value", col("sum_value") / col("n_events"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
        FROM events
        WHERE event_type IN ('click','purchase','error')
          AND value > 50.0 AND value < 500.0
          AND props IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type"""),
      doc = "B8/B11/B12 event filters (Tutorial.R:138-142,192)"),

    // ---------------------------------------------------------------- q17
    // D7/B14 (Tutorial.R:173-179): grouped indicator window — keep only
    // groups containing a distinguished row ("football in play" →
    // "user has an error event").
    "q17_group_indicator" -> NamedQuery(
      fn = (s, d) => {
        RelationalOps.groupIndicator(
          Seq("user_id"), col("event_type") === "error", "has_error")(Tables.events(s, d))
          .filter(col("has_error"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, COUNT(*) AS n_events
        FROM events
        WHERE user_id IN (SELECT user_id FROM events WHERE event_type = 'error')
        GROUP BY user_id
        ORDER BY user_id"""),
      doc = "D7/B14 grouped indicator + filter (Tutorial.R:173-179)"),

    // ---------------------------------------------------------------- q21
    // Sessionization (§2.E lag extension; the scalable form of the
    // reference's per-play frame grouping): 30-min-gap sessions via
    // lag + running sum, all exact integer ns math.
    "q21_sessionize" -> NamedQuery(
      fn = (s, d) => {
        withSessionIds(Tables.events(s, d))
          .groupBy("user_id", "session_id")
          .agg(
            count(lit(1)).as("n_events"),
            (max(col("ts_us")) - min(col("ts_us"))).as("span_us"))
          .orderBy("user_id", "session_id")
      },
      oracle = Some(s"""
        WITH $sessionIdsSql
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MAX(ts_us) - MIN(ts_us) AS span_us
        FROM sid
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id"""),
      doc = "lag+running-sum sessionization (§2.E extension)"),

    // ---------------------------------------------------------------- q22
    // Tumbling event-time windows, batch form of SURVEY.md §2.J: exact
    // integer-division hour buckets.
    "q22_hourly_windows" -> NamedQuery(
      fn = (s, d) => {
        Tables.events(s, d)
          .withColumn("hour_bucket", expr(s"ts_us div ${HourUs}L"))
          .groupBy("hour_bucket")
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            exactSum(col("value")).as("sum_value"))
          .orderBy("hour_bucket")
      },
      oracle = Some(s"""
        SELECT epoch_us(ts) // ${HourUs} AS hour_bucket,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1
        ORDER BY 1"""),
      doc = "tumbling hour windows, batch form (§2.J)"),

    // ---------------------------------------------------------------- q44
    // As-of join, composed from built-ins (SURVEY.md §7.3 preference
    // (a)): attach to each event the most recent STRICTLY PRIOR signup
    // event of the same user — `last(when(...), ignoreNulls)` over a
    // user-ordered window with an unbounded→-1 frame. One keyed shuffle;
    // no custom operator machinery needed for these semantics.
    "q44_asof_signup" -> NamedQuery(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .withColumn("last_signup_ts",
            last(when(col("event_type") === "signup", col("ts_us")), ignoreNulls = true).over(w))
          .withColumn("last_signup_value",
            last(when(col("event_type") === "signup", col("value")), ignoreNulls = true).over(w))
          .withColumn("us_since_signup", col("ts_us") - col("last_signup_ts"))
          .select("event_id", "user_id", "last_signup_value", "us_since_signup")
          .orderBy("user_id", "event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id, last_signup_value,
               ts_us - last_signup_ts AS us_since_signup
        FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                     last_value(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup_ts,
                     last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_signup_value
              FROM events)
        ORDER BY user_id, event_id"""),
      doc = "as-of join from built-ins: last prior signup per user (§7.3(a))"),

    // ---------------------------------------------------------------- q53
    // Range-frame window (§2.E free-extension row): per user, events in
    // the trailing hour by event time — RANGE BETWEEN on exact µs.
    "q53_trailing_window" -> NamedQuery(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts_us")
          .rangeBetween(-HourUs, 0)
        Tables.events(s, d)
          .withColumn("n_last_hour", count(lit(1)).over(w))
          .withColumn("sum_last_hour",
            ExactSums.toDouble(ExactSums.total(Seq(ExactSums.cents(col("value"), 2)), _.over(w)), 2))
          .select("event_id", "user_id", "n_last_hour", "sum_last_hour")
          .orderBy("user_id", "event_id")
      },
      oracle = Some(s"""
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_last_hour,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_last_hour
        FROM (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN $HourUs PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id"""),
      doc = "trailing event-time range frame (§2.E free extension)"),

    // ---------------------------------------------------------------- q23
    // JSON extraction (§2.I extension for the events props column).
    "q23_json_extract" -> NamedQuery(
      fn = (s, d) => {
        Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .filter(col("k").isNotNull)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_events"),
            sum(col("k")).as("sum_k"),
            max(col("k")).as("max_k"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k
        FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        WHERE k IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type"""),
      doc = "JSON props extraction (§2.I extension)"),

    // ---------------------------------------------------------------- q79
    // Skew-safe aggregation end-to-end (SURVEY.md §4 scale posture):
    // events has only 5 event_type values, so a direct groupBy funnels
    // ~1/5 of ALL rows through each of 5 reduce tasks no matter how many
    // executors exist — the textbook hot-key shape. SkewOps.saltedAgg
    // splits each key across 32 salt buckets (phase 1) and recombines
    // (phase 2); guarded cents sums keep both phases order-independent so the
    // result is bit-identical to the direct plan the oracle runs.
    "q79_salted_hot_agg" -> NamedQuery(
      fn = (s, d) => {
        graft.ops.SkewOps.saltedAgg(
          keys = Seq("event_type"), saltBuckets = 32,
          aggs = Map("sum_value" -> ExactSums.cents(col("value"), 2)))(
          Tables.events(s, d))
          .withColumn("sum_value", ExactSums.toDouble(col("sum_value"), 2))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n_rows,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""),
      doc = "two-phase salted aggregation of a hot key (§4 skew posture, SkewOps)"),

    // ---------------------------------------------------------------- q84
    // Range join via bin-and-residual rewrite. Per event: count/sum of
    // ALL events (any user) in the preceding 10 minutes — a GLOBAL
    // trailing window. The two naive forms both die at scale: a window
    // function needs a single ORDER BY ts partition (one task owns the
    // whole stream), and Spark plans the raw θ-join as a nested-loop.
    // The rewrite bins both sides into 10-minute buckets, joins on the
    // bin key (each right row serves bins b and b+1 — one 2× explode),
    // and applies the exact range as a residual filter: a keyed shuffle
    // whose candidate set per row is ~2 bins, at any scale. Plan-pinned
    // to never fall back to a nested loop.
    "q84_range_join_binned" -> NamedQuery(
      fn = (s, d) => {
        val binUs = 600000000L // 10 minutes
        val e = Tables.events(s, d)
          .select(col("event_id"), col("ts_us").as("tu"), col("value"))
        val left = e.select(col("event_id"), col("tu"),
          expr(s"tu div $binUs").as("join_bin"))
        val right = e
          .select(col("tu").as("tu2"), col("value"),
            explode(array(expr(s"tu div $binUs"),
              expr(s"tu div $binUs") + 1L)).as("join_bin"))
        val agg = left.join(right, Seq("join_bin"))
          .filter(col("tu2") >= col("tu") - binUs && col("tu2") < col("tu"))
          .groupBy("event_id")
          .agg(count(lit(1)).as("n_prev_10m"),
            exactSum(col("value")).as("sum_prev_10m"))
        e.select("event_id").join(agg, Seq("event_id"), "left")
          .na.fill(0L, Seq("n_prev_10m")).na.fill(0.0, Seq("sum_prev_10m"))
          .orderBy("event_id")
      },
      oracle = Some("""
        WITH e AS (SELECT event_id, epoch_us(ts) AS tu, value FROM events)
        SELECT a.event_id,
               COUNT(b.event_id) AS n_prev_10m,
               CAST(COALESCE(SUM(CAST(b.value AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_prev_10m
        FROM e a LEFT JOIN e b
          ON b.tu >= a.tu - 600000000 AND b.tu < a.tu
        GROUP BY a.event_id
        ORDER BY a.event_id"""),
      doc = "global trailing range join via bin + residual filter (the keyed scale path)"),

    // ---------------------------------------------------------------- q85
    // Exact quantiles as order statistics: per event_type, the p50/p90
    // value at rank floor((n-1)·p)+1 (ALL-INTEGER rank arithmetic — no
    // interpolation, so nothing depends on float evaluation order and
    // the oracle matches bit-for-bit; interpolating percentile() differs
    // per engine in ulp-level half-handling). One keyed window shuffle
    // ranks, one aggregate extracts both ranks — the exact-quantile
    // cost model at any scale: a sort per group key, never a global one.
    "q85_exact_quantiles" -> NamedQuery(
      fn = (s, d) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)
        Tables.events(s, d)
          .select(col("event_type"), col("value"), col("event_id"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .groupBy("event_type")
          .agg(
            max(col("n")).as("n_rows"),
            max(when(col("rn") === expr("(n - 1) div 2") + 1L, col("value"))).as("p50"),
            max(when(col("rn") === expr("((n - 1) * 9) div 10") + 1L, col("value"))).as("p90"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH r AS (
          SELECT event_type, value,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY value ASC, event_id ASC) AS BIGINT) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events)
        SELECT event_type, MAX(n) AS n_rows,
               MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN value END) AS p50,
               MAX(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN value END) AS p90
        FROM r
        GROUP BY event_type
        ORDER BY event_type"""),
      doc = "exact p50/p90 as order statistics, all-integer ranks (§2.D exact-quantile closure)"),

    // ---------------------------------------------------------------- q87
    // Time-series resampling + gap fill: a dense hourly grid per user
    // (5-user stratum), hourly sums left-joined onto it, missing hours
    // forward-filled with last_value(IGNORE NULLS). The grid is
    // generated distributively (sequence+explode over the corpus hour
    // range × users — never a driver loop) and the fill is one keyed
    // window per user: the resample-then-carry shape that serves any
    // per-entity time series at scale. Hours before a user's first
    // event stay NULL on both engines (nothing to carry).
    "q87_gap_fill" -> NamedQuery(
      fn = (s, d) => {
        val hourUs = 3600000000L
        val e = Tables.events(s, d)
          .select(col("user_id"), expr(s"ts_us div $hourUs").as("h"), col("value"))
        val stratum = e.filter(col("user_id") % 30 === 0)
        val hourly = stratum.groupBy("user_id", "h")
          .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sv"))
        // Resample each user over ITS OWN [min, max] hour span (a keyed
        // generator — no global-bounds pull, no cross join). The
        // previous grid was users × the GLOBAL hour range, which is
        // quadratic by construction once history length scales with
        // data volume (time-disjoint scaledata: 10× users AND 10× hours
        // per decade — the round-13 honest re-measure read 190.4 s /
        // decade-2 exp 1.64 at sf10, with most grid rows zero-filled
        // eras the user never existed in). Per-user spans keep the
        // output ∝ Σ user activity, the time-series-carry semantics the
        // doc declares.
        val grid = stratum.groupBy("user_id")
          .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
          .select(col("user_id"), explode(expr("sequence(h0, h1)")).as("h"))
        val w = Window.partitionBy("user_id").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid
          .join(hourly, Seq("user_id", "h"), "left")
          .withColumn("n_events", coalesce(col("n"), lit(0L)))
          .withColumn("sum_ff", last(col("sv"), ignoreNulls = true).over(w))
          .select(col("user_id"), (col("h") * hourUs).as("hour_us"),
            col("n_events"), col("sum_ff"))
          .orderBy("user_id", "hour_us")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, epoch_us(ts) // 3600000000 AS h, value FROM events),
        spans AS (
          SELECT user_id, min(h) AS h0, max(h) AS h1
          FROM e WHERE user_id % 30 = 0 GROUP BY user_id),
        hourly AS (
          SELECT user_id, h, COUNT(*) AS n,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
          FROM e WHERE user_id % 30 = 0 GROUP BY 1, 2),
        grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM spans)
        SELECT g.user_id, g.h * 3600000000 AS hour_us,
               CAST(COALESCE(hy.n, 0) AS BIGINT) AS n_events,
               last_value(hy.sv IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_ff
        FROM grid g LEFT JOIN hourly hy ON g.user_id = hy.user_id AND g.h = hy.h
        ORDER BY g.user_id, hour_us"""),
      doc = "hourly resample + forward gap fill per user (time-series carry, §2.E extension)"),

    // ---------------------------------------------------------------- q94
    // The plan-rewrite path of the binned range join (q84 is the same
    // rewrite written by hand): the query is the NAÏVE range θ-join —
    // every event against each sampled user's first-hour window, no
    // equi-key — which Spark alone plans as a nested-loop/cartesian.
    // BinnedRangeJoinRule rewrites it to a bin equi-join + exact
    // residual; the user keeps the declarative BETWEEN form and opts in
    // per query via .binned(df, w). Plan-pinned: no
    // BroadcastNestedLoopJoin/CartesianProduct, __graft_bin keys +
    // Generate explode present.
    "q94_range_join_rule" -> NamedQuery(
      fn = (s, d) => {
        val e = Tables.events(s, d).select(col("user_id"), col("ts_us"))
        val windows = e.filter(col("user_id") % 20 === 0)
          .groupBy(col("user_id").as("w_user"))
          .agg(min(col("ts_us")).as("lo"))
          .select(col("w_user"), col("lo"), (col("lo") + 3600000000L).as("hi"))
        val joined = e
          .join(windows, col("ts_us") >= col("lo") && col("ts_us") <= col("hi"))
          .groupBy("w_user")
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("w_user")
        // per-query activation (no session conf to arm or leak): the
        // returned frame's LOGICAL plan already carries the rewrite, so
        // the driver's later count()/write() re-planning keeps it — a
        // set-conf/restore window around planning would not (those
        // actions build fresh QueryExecutions after the restore)
        graft.plans.BinnedRangeJoinRule.binned(joined, HourUs)
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        w AS (
          SELECT user_id AS w_user, MIN(ts_us) AS lo, MIN(ts_us) + 3600000000 AS hi
          FROM e WHERE user_id % 20 = 0 GROUP BY 1)
        SELECT w_user, COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM e JOIN w ON ts_us BETWEEN lo AND hi
        GROUP BY w_user
        ORDER BY w_user"""),
      doc = "range theta-join rewritten by BinnedRangeJoinRule.binned (§7.3(c) logical-plan rewrite)"),

    // ---------------------------------------------------------------- q95
    // The custom PHYSICAL operator through the gate: two-table backward
    // as-of join via plans/AsOfJoinExec (logical node → strategy →
    // streaming two-pointer merge exec; §7.3(c) — q44 is the composed
    // single-table form). Probes = non-signup events, quotes = signups
    // pre-aggregated to unique (user, ts) so the backward match is
    // deterministic. Checked against DuckDB's NATIVE ASOF LEFT JOIN —
    // two independent as-of implementations agreeing row-for-row.
    "q95_asof_operator" -> NamedQuery(
      fn = (s, d) => {
        val (probes, quotes) = signupSides(Tables.events(s, d), "ts_us", "q_ts")
        graft.plans.AsOfJoinOps.asofJoin(
          probes, quotes, Seq("user_id"), "ts_us", "q_ts")
          .select(col("event_id"), col("user_id"), col("signup_value"),
            (col("ts_us") - col("q_ts")).as("us_since_signup"))
          .orderBy("event_id")
      },
      oracle = Some("WITH" + signupSidesSql("epoch_us(ts)", "ts_us", "q_ts") + """
        SELECT p.event_id, p.user_id, q.signup_value,
               p.ts_us - q.q_ts AS us_since_signup
        FROM probes p ASOF LEFT JOIN quotes q
          ON p.user_id = q.user_id AND p.ts_us >= q.q_ts
        ORDER BY p.event_id"""),
      doc = "backward as-of join via custom AsOfJoinExec vs DuckDB native ASOF (§7.3(c))"),

    // --------------------------------------------------------------- q157
    // q95's skew-resilient form: the SAME as-of semantics through
    // AsOfJoinOps.asofJoinSalted — probe side salted into 8 sub-keys,
    // quote side replicated per bucket, merge on (user, salt). One hot
    // user's probe volume spreads across 8 tasks instead of
    // serializing on one (AQE's skew splitting never rewrites custom
    // execs, so the operator carries its own medicine — same regime as
    // q90's salted aggregation). The salt mixes the PER-ROW-UNIQUE
    // event_id with the probe time (saltOn) — the production form that
    // stays a real spread even when a hot key's timestamps tie
    // (batch-stamped events would collapse a time-only salt into one
    // bucket). asofJoinSalted returns asofJoin's columns (the salt
    // dropped by name), so the projection is q95's. Oracle: DuckDB's
    // native ASOF again — salting must be row-invisible.
    "q157_asof_salted" -> NamedQuery(
      fn = (s, d) => {
        val (probes, quotes) = signupSides(Tables.events(s, d), "ts_us", "q_ts")
        graft.plans.AsOfJoinOps.asofJoinSalted(
          probes, quotes, Seq("user_id"), "ts_us", "q_ts", saltBuckets = 8,
          saltOn = Seq("ts_us", "event_id"))
          .select(col("event_id"), col("user_id"), col("signup_value"),
            (col("ts_us") - col("q_ts")).as("us_since_signup"))
          .orderBy("event_id")
      },
      oracle = Some("WITH" + signupSidesSql("epoch_us(ts)", "ts_us", "q_ts") + """
        SELECT p.event_id, p.user_id, q.signup_value,
               p.ts_us - q.q_ts AS us_since_signup
        FROM probes p ASOF LEFT JOIN quotes q
          ON p.user_id = q.user_id AND p.ts_us >= q.q_ts
        ORDER BY p.event_id"""),
      doc = "skew-salted as-of join (probe salt + quote replication) vs DuckDB native ASOF"),

    // ---------------------------------------------------------------- q96
    // Ordered funnel (view → click → purchase): each stage's timestamp
    // is the user's first qualifying event AT OR AFTER the previous
    // stage — three keyed min-aggregates chained by user-keyed joins
    // (each stage's frame shrinks, never grows; no window over the full
    // event stream, no per-user collect). The sequential-pattern shape
    // every product-analytics engine ships.
    "q96_funnel" -> NamedQuery(
      fn = (s, d) => {
        val e = Tables.events(s, d).select("user_id", "ts_us", "event_type")
        val s1 = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts_us")).as("view_ts"))
        val s2 = e.filter(col("event_type") === "click")
          .join(s1, Seq("user_id")).filter(col("ts_us") >= col("view_ts"))
          .groupBy("user_id").agg(min(col("ts_us")).as("click_ts"))
        val s3 = e.filter(col("event_type") === "purchase")
          .join(s2, Seq("user_id")).filter(col("ts_us") >= col("click_ts"))
          .groupBy("user_id").agg(min(col("ts_us")).as("purchase_ts"))
        s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
          .select(col("user_id"), col("view_ts"), col("click_ts"), col("purchase_ts"),
            (col("purchase_ts") - col("view_ts")).as("us_view_to_purchase"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        s1 AS (SELECT user_id, MIN(ts_us) AS view_ts FROM e
               WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id, MIN(ts_us) AS click_ts FROM e JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND ts_us >= view_ts GROUP BY 1),
        s3 AS (SELECT e.user_id, MIN(ts_us) AS purchase_ts FROM e JOIN s2 USING (user_id)
               WHERE event_type = 'purchase' AND ts_us >= click_ts GROUP BY 1)
        SELECT user_id, view_ts, click_ts, purchase_ts,
               purchase_ts - view_ts AS us_view_to_purchase
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        ORDER BY user_id"""),
      doc = "view->click->purchase ordered funnel via chained keyed minima"),

    // ---------------------------------------------------------------- q97
    // Retention cohorts: users grouped by first-event week, activity
    // counted per week offset — the (cohort, offset) matrix behind every
    // retention curve. Day/week arithmetic stays all-integer on ts_us
    // (identical div semantics both engines); two keyed shuffles (first
    // event per user, then the distinct-user count per cell).
    "q97_retention" -> NamedQuery(
      fn = (s, d) => {
        val dayUs = 86400000000L
        val e = Tables.events(s, d)
          .select(col("user_id"), expr(s"(ts_us div $dayUs) div 7").as("week"))
        val cohort = e.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
        e.join(cohort, Seq("user_id"))
          .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS week FROM events),
        cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1)
        SELECT cohort_week, week - cohort_week AS week_offset,
               COUNT(DISTINCT user_id) AS n_users
        FROM e JOIN cohort USING (user_id)
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "first-week cohort x week-offset retention matrix"),

    // ---------------------------------------------------------------- q99
    // Sweep-line concurrency: peak simultaneous sessions per hour. The
    // 30-min-gap sessions (q21's shape) become ±1 endpoint deltas, a
    // running sum over the GLOBAL time order is the live-session count,
    // and the hourly max is the concurrency curve — the classic
    // interval-stabbing answer without any interval join at all.
    // Zero-delta MARKER rows at every hour boundary in the corpus range
    // make the curve honest: an hour with no session endpoints still
    // reports the carried-in live count (a long session spanning quiet
    // hours shows concurrency 1 there, not a missing row), and an hour
    // that only ends sessions reports the pre-decrement carry. Round 9:
    // the sweep runs as PrefixSum.scalableRunningSum — within-hour
    // running sums stay KEYED on the hour bucket; only the hour-grain
    // totals frame (the result's own grain) crosses one partition — so
    // the op survives an endpoint stream of any size, not just one
    // "orders of magnitude smaller than events".
    "q99_concurrency" -> NamedQuery(
      fn = (s, d) => {
        val sessions = withSessionIds(Tables.events(s, d))
          .groupBy("user_id", "session_id")
          .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
          // session-grain and consumed by THREE branches (start deltas,
          // end deltas, the marker range) — without the cut the
          // window+agg pipeline recomputes per branch (measured 2.7×
          // on the whole query at sf0.1)
          .localCheckpoint(false)
        val markers = sessions
          .agg(min(expr(s"t0 div ${HourUs}L")).as("h0"),
            max(expr(s"t1 div ${HourUs}L")).as("h1"))
          .select(explode(expr("sequence(h0, h1)")).as("h"))
          .select((col("h") * HourUs).as("ts"), lit(0L).as("delta"))
        val deltas = sessions.select(col("t0").as("ts"), lit(1L).as("delta"))
          .unionByName(sessions.select((col("t1") + 1L).as("ts"), lit(-1L).as("delta")))
          .unionByName(markers)
          .groupBy("ts").agg(sum(col("delta")).as("d"))
          // time-grain, consumed twice inside scalableRunningSum (the
          // offsets aggregate and the within-bucket window)
          .localCheckpoint(false)
        graft.ops.PrefixSum.scalableRunningSum(deltas,
            bucket = expr(s"ts div ${HourUs}L"), bucketName = "hour_bucket",
            orderCols = Seq("ts"), valueCol = "d", outCol = "live")
          .groupBy("hour_bucket")
          .agg(max(col("live")).as("peak_concurrent"))
          .orderBy("hour_bucket")
      },
      oracle = Some(s"""
        WITH $sessionGapsSql,
        sid AS (
          SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                           ROWS UNBOUNDED PRECEDING) AS session_id
          FROM m),
        sessions AS (
          SELECT user_id, session_id, MIN(ts_us) AS t0, MAX(ts_us) AS t1
          FROM sid GROUP BY 1, 2),
        hrange AS (
          SELECT MIN(t0 // ${HourUs}) AS h0, MAX(t1 // ${HourUs}) AS h1 FROM sessions),
        markers AS (
          SELECT unnest(range(h0, h1 + 1)) * ${HourUs} AS ts, 0 AS delta FROM hrange),
        deltas AS (
          SELECT ts, CAST(SUM(delta) AS BIGINT) AS d FROM (
            SELECT t0 AS ts, 1 AS delta FROM sessions
            UNION ALL
            SELECT t1 + 1 AS ts, -1 AS delta FROM sessions
            UNION ALL
            SELECT ts, delta FROM markers)
          GROUP BY ts),
        sweep AS (
          SELECT ts, CAST(SUM(d) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS live
          FROM deltas)
        SELECT ts // ${HourUs} AS hour_bucket, MAX(live) AS peak_concurrent
        FROM sweep
        GROUP BY 1
        ORDER BY 1"""),
      doc = "sweep-line peak concurrent sessions per hour, hour-carry markers (no join)"),

    // ---------------------------------------------------------------- q100
    // Winsorization (robust feature scaling, the ML-prep op between raw
    // values and a trainer): per event_type, clamp `value` into its
    // exact [p05, p95] order-statistic band (q85's all-integer rank
    // arithmetic — no interpolation, engine-exact) and report how much
    // mass moved. The quantile table is #groups-sized → broadcast back
    // onto the stream; one keyed window sort + one map-side clamp.
    "q100_winsorize" -> NamedQuery(
      fn = (s, d) => {
        val w = Window.partitionBy("event_type")
          .orderBy(col("value").asc, col("event_id").asc)
        val bands = Tables.events(s, d)
          .select(col("event_type"), col("value"), col("event_id"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .groupBy("event_type")
          .agg(
            max(when(col("rn") === expr("(n - 1) div 20") + 1L, col("value"))).as("lo"),
            max(when(col("rn") === expr("((n - 1) * 19) div 20") + 1L, col("value"))).as("hi"))
        Tables.events(s, d)
          .join(broadcast(bands), Seq("event_type"))
          .withColumn("clamped", least(greatest(col("value"), col("lo")), col("hi")))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
            sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clipped_high"),
            max(col("lo")).as("p05"), max(col("hi")).as("p95"),
            exactSum(round(col("clamped"), 2)).as("sum_clamped"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH r AS (
          SELECT event_type, value,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY value ASC, event_id ASC) AS BIGINT) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events),
        bands AS (
          SELECT event_type,
                 MAX(CASE WHEN rn = (n - 1) // 20 + 1 THEN value END) AS lo,
                 MAX(CASE WHEN rn = ((n - 1) * 19) // 20 + 1 THEN value END) AS hi
          FROM r GROUP BY event_type)
        SELECT e.event_type, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
               CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
               MAX(lo) AS p05, MAX(hi) AS p95,
               CAST(SUM(CAST(round(least(greatest(value, lo), hi), 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_clamped
        FROM events e JOIN bands USING (event_type)
        GROUP BY e.event_type
        ORDER BY e.event_type"""),
      doc = "per-group winsorization at exact [p05,p95] order statistics (ML feature prep)"),

    // --------------------------------------------------------------- q101
    // The COMMONEST real range-join shape — equi-key + time window
    // ("this user's events inside this user's window"; the reference's
    // per-frame scoped self-join, all coverages.R:226-241, is the same
    // pattern) — through the GENERALIZED BinnedRangeJoinRule: the rule
    // now extracts the (lo, hi) pair from an N-conjunct condition, keeps
    // every other conjunct in the residual, and the planner picks up
    // BOTH the user's equi-key and the bin as join keys. At scale that
    // matters when the coarse key is few/skewed: the bin becomes the
    // finer co-key that spreads one hot key's rows over many tasks.
    "q101_range_equikey_rule" -> NamedQuery(
      fn = (s, d) => {
        val e = Tables.events(s, d).select(col("user_id"), col("ts_us"))
        val windows = e.groupBy(col("user_id").as("w_user"))
          .agg(min(col("ts_us")).as("lo"))
          .select(col("w_user"), col("lo"), (col("lo") + HourUs).as("hi"))
        val joined = e.join(windows,
            col("user_id") === col("w_user") &&
              col("ts_us") >= col("lo") && col("ts_us") <= col("hi"))
          .groupBy("w_user")
          .agg(count(lit(1)).as("n_first_hour"))
          .orderBy("w_user")
        graft.plans.BinnedRangeJoinRule.binned(joined, HourUs)
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        w AS (SELECT user_id AS w_user, MIN(ts_us) AS lo, MIN(ts_us) + 3600000000 AS hi
              FROM e GROUP BY 1)
        SELECT w_user, COUNT(*) AS n_first_hour
        FROM e JOIN w ON user_id = w_user AND ts_us BETWEEN lo AND hi
        GROUP BY w_user
        ORDER BY w_user"""),
      doc = "equi-key + range window via generalized BinnedRangeJoinRule (bin joins as finer co-key)"),

    // --------------------------------------------------------------- q102
    // AsOfJoinExec on native TimestampType with a bounded search: the
    // operator compares timestamps on their epoch-micros representation
    // (no pre-derived long column needed) and nulls out backward matches
    // older than the tolerance — pandas merge_asof semantics. The DuckDB
    // oracle is its native ASOF with the tolerance applied to the single
    // backward match (equivalent: the bounded match, if any, IS the
    // unbounded backward match).
    "q102_asof_tolerance" -> NamedQuery(
      fn = (s, d) => {
        val dayUs = 86400000000L
        val e = Tables.events(s, d)
        val probes = e.filter(col("event_type") =!= "signup")
          .select(col("event_id"), col("user_id"), timestamp_micros(col("ts_us")).as("ts"))
        val quotes = e.filter(col("event_type") === "signup")
          .groupBy(col("user_id").as("q_user"), timestamp_micros(col("ts_us")).as("q_ts"))
          .agg(max(col("value")).as("signup_value"))
          .withColumnRenamed("q_user", "user_id")
        graft.plans.AsOfJoinOps.asofJoin(
          probes, quotes, Seq("user_id"), "ts", "q_ts", toleranceUs = Some(dayUs))
          .select(col("event_id"), col("user_id"), col("signup_value"),
            (unix_micros(col("ts")) - unix_micros(col("q_ts"))).as("us_since_signup"))
          .orderBy("event_id")
      },
      oracle = Some("WITH" + signupSidesSql("epoch_us(ts)", "ts_us", "q_ts") + """
        SELECT p.event_id, p.user_id,
               CASE WHEN p.ts_us - q.q_ts <= 86400000000 THEN q.signup_value END AS signup_value,
               CASE WHEN p.ts_us - q.q_ts <= 86400000000 THEN p.ts_us - q.q_ts END AS us_since_signup
        FROM probes p ASOF LEFT JOIN quotes q
          ON p.user_id = q.user_id AND p.ts_us >= q.q_ts
        ORDER BY p.event_id"""),
      doc = "TimestampType as-of join with 1-day tolerance vs DuckDB native ASOF (§7.3(c))"),

    // --------------------------------------------------------------- q103
    // Strict (<) as-of on an HOUR-resolution clock — coarse enough that
    // probe/quote ties are common, so strictness is genuinely exercised
    // (at μs resolution strict and inclusive agree on this data): a
    // signup in the probe's own hour must NOT match, only strictly
    // earlier hours. DuckDB's ASOF supports the strict comparator
    // natively, giving an independent implementation to agree with.
    "q103_asof_strict" -> NamedQuery(
      fn = (s, d) => {
        val (probes, quotes) = signupSides(
          Tables.events(s, d).withColumn("h", expr(s"ts_us div ${HourUs}L")), "h", "q_h")
        graft.plans.AsOfJoinOps.asofJoin(
          probes, quotes, Seq("user_id"), "h", "q_h", strict = true)
          .select(col("event_id"), col("user_id"), col("signup_value"),
            (col("h") - col("q_h")).as("hours_since_signup"))
          .orderBy("event_id")
      },
      oracle = Some("WITH" + signupSidesSql("epoch_us(ts) // 3600000000", "h", "q_h") + """
        SELECT p.event_id, p.user_id, q.signup_value,
               p.h - q.q_h AS hours_since_signup
        FROM probes p ASOF LEFT JOIN quotes q
          ON p.user_id = q.user_id AND p.h > q.q_h
        ORDER BY p.event_id"""),
      doc = "strict (<) as-of join on hour-resolution clock vs DuckDB ASOF with strict comparator"),

    // --------------------------------------------------------------- q104
    // SCD Type-2 history build — the classic warehouse shape: an event
    // log becomes versioned effective-dated state rows. Per user, treat
    // event_type as the tracked state; consecutive duplicates collapse
    // (only CHANGES open a new version), effective_to comes from the
    // next change (NULL = current). All three windows (lag to detect the
    // change, row_number to version, lead to close the interval) share
    // one (user_id)(ts, id) partitioning+ordering, so the plan pays ONE
    // keyed shuffle + ONE sort — the shape that holds when the log is
    // 100 TB and a user's history must never sit in driver memory.
    "q104_scd2_intervals" -> NamedQuery(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .withColumn("version", row_number().over(w).cast("long"))
          .withColumn("effective_to_us", lead(col("ts_us"), 1).over(w))
          .select(col("user_id"), col("version"), col("event_type").as("state"),
            col("ts_us").as("effective_from_us"), col("effective_to_us"))
          .orderBy("user_id", "version")
      },
      oracle = Some("""
        WITH e AS (
          SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
          FROM events),
        ch AS (
          SELECT user_id, ts_us, event_id, event_type,
                 CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS version,
                 lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS effective_to_us
          FROM e WHERE prev IS NULL OR prev <> event_type)
        SELECT user_id, version, event_type AS state,
               ts_us AS effective_from_us, effective_to_us
        FROM ch
        ORDER BY user_id, version"""),
      doc = "SCD Type-2 effective-dated versions from an event log (one shuffle, three shared windows)"),

    // --------------------------------------------------------------- q107
    // Z-order (Morton curve) data layout — the clustered-write op big
    // tables need: interleaving the bits of two dimension keys gives a
    // 1-D sort key whose fixed-width tiles have TIGHT 2-D bounding
    // boxes, so a reader filtering on either dimension can skip most
    // files on min/max stats. zvalue is a pure per-row bit expression
    // (map-only, codegen'd); tile stats are one keyed agg. At scale the
    // write path is repartitionByRange(zvalue) + sortWithinPartitions —
    // the q88 partitioned-write machinery — this query computes the
    // layout and proves tightness: every 4096-cell tile's bbox is at
    // most 64x64 of the 1024x1024 key space.
    "q107_zorder_layout" -> NamedQuery(
      fn = (s, d) => {
        val zTerms = (0 until 10).flatMap(i => Seq(
          s"(shiftright(xb, $i) & 1) * ${1L << (2 * i)}L",
          s"(shiftright(yb, $i) & 1) * ${1L << (2 * i + 1)}L")).mkString(" + ")
        Tables.events(s, d)
          .select(
            pmod(col("user_id"), lit(1024L)).as("xb"),
            pmod(expr(s"ts_us div ${HourUs}L"), lit(1024L)).as("yb"))
          .withColumn("zvalue", expr(zTerms))
          .withColumn("tile", expr("zvalue div 4096"))
          .groupBy("tile")
          .agg(
            count(lit(1)).as("n_rows"),
            min(col("xb")).as("min_x"), max(col("xb")).as("max_x"),
            min(col("yb")).as("min_y"), max(col("yb")).as("max_y"))
          .orderBy("tile")
      },
      oracle = Some {
        val zTerms = (0 until 10).flatMap(i => Seq(
          s"((xb >> $i) & 1) * ${1L << (2 * i)}",
          s"((yb >> $i) & 1) * ${1L << (2 * i + 1)}")).mkString(" + ")
        s"""
        WITH b AS (
          SELECT user_id % 1024 AS xb,
                 (epoch_us(ts) // ${HourUs}) % 1024 AS yb
          FROM events),
        z AS (SELECT xb, yb, $zTerms AS zvalue FROM b)
        SELECT zvalue // 4096 AS tile, COUNT(*) AS n_rows,
               MIN(xb) AS min_x, MAX(xb) AS max_x,
               MIN(yb) AS min_y, MAX(yb) AS max_y
        FROM z
        GROUP BY 1
        ORDER BY tile"""
      },
      doc = "Z-order curve layout: bit-interleaved sort key + per-tile bbox stats (file-skipping clustering)"),

    // --------------------------------------------------------------- q108
    // FORWARD as-of ("next signup at or after each event") through the
    // same AsOfJoinExec — direction only flips which side of the
    // two-pointer scan is retained, the plan (hash-partition on key,
    // sort (key, time), streamed merge) is identical. Hour-resolution
    // clock so probe/quote ties are common and the inclusive (>=)
    // comparator is genuinely exercised against DuckDB's native
    // ASOF ... ON p.h <= q.h.
    "q108_asof_forward" -> NamedQuery(
      fn = (s, d) => {
        val (probes, quotes) = signupSides(
          Tables.events(s, d).withColumn("h", expr(s"ts_us div ${HourUs}L")), "h", "q_h")
        graft.plans.AsOfJoinOps.asofJoin(
          probes, quotes, Seq("user_id"), "h", "q_h", forward = true)
          .select(col("event_id"), col("user_id"), col("signup_value"),
            (col("q_h") - col("h")).as("hours_until_signup"))
          .orderBy("event_id")
      },
      oracle = Some("WITH" + signupSidesSql("epoch_us(ts) // 3600000000", "h", "q_h") + """
        SELECT p.event_id, p.user_id, q.signup_value,
               q.q_h - p.h AS hours_until_signup
        FROM probes p ASOF LEFT JOIN quotes q
          ON p.user_id = q.user_id AND p.h <= q.q_h
        ORDER BY p.event_id"""),
      doc = "forward (next-at-or-after) as-of join vs DuckDB native ASOF with <= comparator"),

    // --------------------------------------------------------------- q111
    // First-order event transition matrix (user journey / Markov-chain
    // estimation): per-user lag pairs the consecutive events, one
    // (prev, next) count agg, and the row-normalized probability comes
    // from a window over the TINY transition frame (|event types|^2
    // rows) — the heavy shuffle is the per-user lag window, same
    // partitioning q21/q104 use.
    "q111_transition_matrix" -> NamedQuery(
      fn = (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
          .withColumn("prev_event", lag(col("event_type"), 1).over(w))
          .filter(col("prev_event").isNotNull)
          .groupBy("prev_event", "event_type")
          .agg(count(lit(1)).as("n"))
          .withColumn("ntot", sum(col("n")).over(Window.partitionBy("prev_event")))
          // exact rational n/ntot, half-away in integer math (PARITY
          // rule 4 fix 2 — round(double, 6) splits engines on decimal
          // micro-midpoints; q70 hit one at sf1)
          .withColumn("p",
            expr("(2 * 1000000 * n + ntot) div (2 * ntot)").cast("double") / lit(1e6))
          .drop("ntot")
          .orderBy("prev_event", "event_type")
      },
      oracle = Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS prev_event
          FROM events),
        tr AS (
          SELECT prev_event, event_type, COUNT(*) AS n
          FROM seq WHERE prev_event IS NOT NULL
          GROUP BY 1, 2)
        SELECT prev_event, event_type, n,
               CAST((2 * 1000000 * n + SUM(n) OVER (PARTITION BY prev_event))
                    // (2 * SUM(n) OVER (PARTITION BY prev_event)) AS DOUBLE) / 1e6 AS p
        FROM tr
        ORDER BY prev_event, event_type"""),
      doc = "first-order event transition counts + row-normalized probabilities (user journeys)"),

    // --------------------------------------------------------------- q112
    // Robust outlier detection via median absolute deviation — the
    // data-quality screen that survives the outliers it hunts (mean/
    // stddev don't): two exact order-statistic passes (median, then
    // median of |x - median|, both the q85 all-integer-rank shape), and
    // the outlier test |x - med| > 3.5·MAD/0.6745 is pure IEEE
    // arithmetic on exact values — no interpolation, both engines agree
    // bit-for-bit. Cost: two keyed window sorts; the per-group medians
    // broadcast back onto the rows.
    "q112_robust_outliers" -> NamedQuery(
      fn = (s, d) => {
        val base = Tables.events(s, d).select(col("event_type"), col("value"), col("event_id"))
        val nW = Window.partitionBy("event_type")
        val w1 = nW.orderBy(col("value").asc, col("event_id").asc)
        val med = base
          .withColumn("rn", row_number().over(w1).cast("long"))
          .withColumn("n", count(lit(1)).over(nW))
          .groupBy("event_type")
          .agg(max(when(col("rn") === expr("(n - 1) div 2") + 1L, col("value"))).as("med"))
        val dev = base.join(broadcast(med), Seq("event_type"))
          .withColumn("ad", abs(col("value") - col("med")))
        val w2 = nW.orderBy(col("ad").asc, col("event_id").asc)
        val mad = dev
          .withColumn("rn2", row_number().over(w2).cast("long"))
          .withColumn("n2", count(lit(1)).over(nW))
          .groupBy("event_type")
          .agg(max(when(col("rn2") === expr("(n2 - 1) div 2") + 1L, col("ad"))).as("mad"))
        dev.join(broadcast(mad), Seq("event_type"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_rows"),
            max(col("med")).as("median"),
            max(col("mad")).as("mad"),
            sum(when(col("ad") > lit(3.5) * col("mad") / lit(0.6745), 1L).otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH r AS (
          SELECT event_type, value, event_id,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY value ASC, event_id ASC) AS BIGINT) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events),
        med AS (
          SELECT event_type, MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN value END) AS med
          FROM r GROUP BY 1),
        dev AS (
          SELECT e.event_type, e.event_id, abs(e.value - m.med) AS ad, m.med
          FROM events e JOIN med m USING (event_type)),
        r2 AS (
          SELECT event_type, ad, med,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY ad ASC, event_id ASC) AS BIGINT) AS rn2,
                 COUNT(*) OVER (PARTITION BY event_type) AS n2
          FROM dev),
        mad AS (
          SELECT event_type, MAX(CASE WHEN rn2 = (n2 - 1) // 2 + 1 THEN ad END) AS mad
          FROM r2 GROUP BY 1)
        SELECT d.event_type, COUNT(*) AS n_rows, MAX(d.med) AS median, MAX(m.mad) AS mad,
               CAST(SUM(CASE WHEN d.ad > 3.5 * m.mad / 0.6745 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY 1
        ORDER BY 1"""),
      doc = "robust outlier screen: exact median + MAD, modified z threshold (data quality)"),

    // --------------------------------------------------------------- q114
    // The z-order WRITE+PRUNE round trip (q107 computes the layout; this
    // proves the payoff): events written partitioned by 4096-cell Morton
    // tile, then a dimension-range query reads back ONLY the tiles whose
    // x-range can overlap — the qualifying tile set is pure bit math on
    // the query bounds (tile = 4+4-bit interleave of the high key bits;
    // xb in [4,135] -> xb>>6 in {0,1,2} -> 48 of 256 tiles), computed
    // with NO data access, exactly how a lakehouse reader prunes
    // clustered files from min/max stats. The tile filter is a SUPERSET
    // of the predicate (correctness never depends on it); the xb filter
    // refines inside the surviving partitions. PlanAuditSpec pins the
    // PartitionFilters pruning.
    "q114_zorder_pruned_scan" -> NamedQuery(
      fn = (s, d) => {
        val zTerms = (0 until 10).flatMap(i => Seq(
          s"(shiftright(xb, $i) & 1) * ${1L << (2 * i)}L",
          s"(shiftright(yb, $i) & 1) * ${1L << (2 * i + 1)}L")).mkString(" + ")
        val dir = TempPaths.dir(s, "q114_zorder").getAbsolutePath
        Tables.events(s, d)
          .select(
            pmod(col("user_id"), lit(1024L)).as("xb"),
            pmod(expr(s"ts_us div ${HourUs}L"), lit(1024L)).as("yb"),
            col("value"))
          .withColumn("tile", expr(s"($zTerms) div 4096"))
          // yb exists only to interleave into the tile key — once tile
          // is materialized it is dead weight: dropping it here shrinks
          // the clustering shuffle AND the written files by a third
          // (guide §2.3 project-before-the-exchange; §6 write only what
          // readers use). The read side never touches yb.
          .select("xb", "value", "tile")
          // cluster by the layout key before writing: one file per tile
          // instead of (tiles x shuffle-partitions) fragments — the
          // write-side pattern any clustered layout needs at scale
          .repartition(col("tile"))
          .write.mode("overwrite").partitionBy("tile").parquet(dir)
        // qualifying tiles for xb in [4,135]: xb>>6 in {0,1,2}, any yb>>6
        val tiles = for { xh <- Seq(0L, 1L, 2L); yh <- 0L until 16L } yield
          (0 until 4).map(j => (((xh >> j) & 1L) << (2 * j)) | (((yh >> j) & 1L) << (2 * j + 1))).sum
        s.read.parquet(dir)
          .filter(col("tile").isin(tiles: _*) && col("xb").between(4, 135))
          .groupBy("xb")
          .agg(count(lit(1)).as("n_rows"), exactSum(col("value")).as("sum_value"))
          .orderBy("xb")
      },
      oracle = Some("""
        SELECT user_id % 1024 AS xb, COUNT(*) AS n_rows,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE user_id % 1024 BETWEEN 4 AND 135
        GROUP BY 1
        ORDER BY xb"""),
      doc = "z-order clustered write + bit-math partition pruning round trip (lakehouse layout)"),

    // --------------------------------------------------------------- q120
    // Native session-window sessionization — the built-in operator form
    // of q21's lag+cumsum (§2.E) and the batch twin of q74's stateful
    // streaming sessions (§2.J): `session_window(ts, gap)` merges events
    // per user into [first_event, last_event + gap) windows in ONE
    // shuffle on the grouping key (Spark merges overlapping windows
    // within each hash partition — no second pass, state bounded per
    // user). An event extends a session iff it lands strictly inside the
    // current window, so a gap of exactly 30 min starts a NEW session —
    // the oracle's `>=` mirrors that edge (the testdata's nanosecond
    // timestamps make exact-boundary collisions practically impossible,
    // but the semantics are pinned either way).
    "q120_session_window" -> NamedQuery(
      fn = (s, d) => {
        Tables.events(s, d)
          .withColumn("ts_m", timestamp_micros(col("ts_us")))
          .groupBy(col("user_id"), session_window(col("ts_m"), "30 minutes"))
          .agg(
            count(lit(1)).as("n_events"),
            exactSum(col("value")).as("sum_value"))
          .select(
            col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n_events"),
            col("sum_value"))
          .orderBy("user_id", "start_us")
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT user_id, epoch_us(ts) AS ts_us, value,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_ts
          FROM events),
        m AS (
          SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts >= ${SessionGapUs} THEN 1 ELSE 0 END AS new_session
          FROM t),
        sid AS (
          SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                           ROWS UNBOUNDED PRECEDING) AS session_id
          FROM m)
        SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) + ${SessionGapUs} AS end_us,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM sid
        GROUP BY user_id, session_id
        ORDER BY user_id, start_us"""),
      doc = "native session_window batch sessionization (§2.J operator form of q21)"),

    // --------------------------------------------------------------- q124
    // BROADCAST as-of join (asofJoin over broadcast(quotes)): each
    // purchase picks the latest hourly per-type checkpoint STRICTLY
    // before it. The checkpoint table is dim-sized (types × hours), so
    // the right plan is NOT q95's two-sided shuffle+sort merge: the
    // hint selects AsOfJoinExec's broadcast distribution — the quotes
    // are sorted once and broadcast, and the probe side only sorts
    // within its partitions and never shuffles (plan-pinned). The
    // quote key is re-aliased (q_type) because the two sides come from
    // one events scan and asofJoin rejects shared attributes.
    // Validated against DuckDB's native ASOF JOIN with the strict (<)
    // comparator.
    "q124_asof_broadcast" -> NamedQuery(
      fn = (s, d) => {
        val ev = Tables.events(s, d)
        // mean-of-cents as an exact rational, half-away in integer math
        // (PARITY rule 4 fix 2): cents/(100·n) in micro units is
        // (2·10^4·cents + n) div (2n) — round(double, 6) splits engines
        // on decimal midpoints (q70 hit one at sf1)
        val quotes = ev
          .groupBy(col("event_type").as("q_type"),
            (expr(s"ts_us div ${HourUs}L") * HourUs).as("q_ts_us"))
          .agg(ExactSums.total(Seq(ExactSums.cents(col("value"), 2))).as("cents"), count(lit(1)).as("n"))
          .withColumn("q_rate",
            (when(col("cents") < 0, lit(-1L)).otherwise(lit(1L)) *
              expr("(2 * 10000 * abs(cents) + n) div (2 * n)"))
              .cast("double") / lit(1e6))
          .select(col("q_type").as("event_type"), col("q_ts_us"), col("q_rate"))
        val probe = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("event_type"), col("ts_us"))
        graft.plans.AsOfJoinOps.asofJoin(
          probe, broadcast(quotes), Seq("event_type"), "ts_us", "q_ts_us", strict = true)
          .select("event_id", "event_type", "ts_us", "q_ts_us", "q_rate")
          .orderBy("event_id")
      },
      oracle = Some(s"""
        WITH q0 AS (
          SELECT event_type, (epoch_us(ts) // ${HourUs}) * ${HourUs} AS q_ts_us,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        q AS (
          SELECT event_type, q_ts_us,
                 CAST((CASE WHEN cents < 0 THEN -1 ELSE 1 END)
                      * ((2 * 10000 * abs(cents) + n) // (2 * n)) AS DOUBLE) / 1e6 AS q_rate
          FROM q0),
        p AS (
          SELECT event_id, event_type, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'purchase')
        SELECT p.event_id, p.event_type, p.ts_us, q.q_ts_us, q.q_rate
        FROM p ASOF LEFT JOIN q
          ON p.event_type = q.event_type AND q.q_ts_us < p.ts_us
        ORDER BY p.event_id"""),
      doc = "broadcast as-of join: probe side never shuffles vs DuckDB native ASOF (§7.3c)"),

    // --------------------------------------------------------------- q151
    // Leakage-free equi-depth binning — the feature-prep step a model
    // pipeline gets subtly wrong when bin edges are computed over ALL
    // data: edges here are exact order statistics (q85's all-integer
    // rank idiom — no interpolation, no double drift) over the TRAIN
    // split only, then applied to the TEST split through a broadcast
    // edge join + a when-chain — the apply side never sees test
    // quantiles, which is the leakage discipline. The split is the
    // md5-deterministic family (q105/q115): replayable, engine-exact.
    // Scale: edges are O(event_types) rows (broadcast); the apply pass
    // is map-only; the only big shuffles are the train-side rank window
    // (keyed by event_type) and the final per-(type, bin) agg.
    "q151_quantile_binning" -> NamedQuery(
      fn = (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("is_test",
            conv(substring(md5(col("event_id").cast("string")), 1, 3), 16, 10)
              .cast("long") % 5 === 0)
        val train = ev.filter(!col("is_test"))
        val w = Window.partitionBy("event_type").orderBy(col("value").asc, col("event_id").asc)
        val edges = train
          .select(col("event_type"), col("value"), col("event_id"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .groupBy("event_type")
          .agg(
            max(when(col("rn") === expr("(n - 1) div 4") + 1L, col("value"))).as("e25"),
            max(when(col("rn") === expr("(n - 1) div 2") + 1L, col("value"))).as("e50"),
            max(when(col("rn") === expr("((n - 1) * 3) div 4") + 1L, col("value"))).as("e75"))
        ev.filter(col("is_test"))
          .join(broadcast(edges), Seq("event_type"))
          .withColumn("bin",
            when(col("value") <= col("e25"), 1)
              .when(col("value") <= col("e50"), 2)
              .when(col("value") <= col("e75"), 3)
              .otherwise(4))
          .groupBy("event_type", "bin")
          .agg(count(lit(1)).as("n"), exactSum(col("value")).as("sum_val"))
          .orderBy("event_type", "bin")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT event_type, event_id, value,
                 CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 3) AS BIGINT) % 5 = 0
                   AS is_test
          FROM events),
        r AS (
          SELECT event_type, value,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY value ASC, event_id ASC) AS BIGINT) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM ev WHERE NOT is_test),
        edges AS (
          SELECT event_type,
                 MAX(CASE WHEN rn = (n - 1) // 4 + 1 THEN value END) AS e25,
                 MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN value END) AS e50,
                 MAX(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN value END) AS e75
          FROM r GROUP BY event_type)
        SELECT t.event_type,
               CAST(CASE WHEN t.value <= e.e25 THEN 1
                         WHEN t.value <= e.e50 THEN 2
                         WHEN t.value <= e.e75 THEN 3
                         ELSE 4 END AS INT) AS bin,
               COUNT(*) AS n,
               CAST(SUM(CAST(t.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        FROM ev t JOIN edges e USING (event_type)
        WHERE t.is_test
        GROUP BY 1, 2
        ORDER BY event_type, bin"""),
      doc = "leakage-free equi-depth binning: exact train-split quartile edges applied to test (ML prep)"),

    // --------------------------------------------------------------- q155
    // KMV distinct-count sketch through the gate — the second native
    // TypedImperativeAggregate (graft.expr.KmvDistinct, beside
    // TopKPairs): per event_type, the (k−1)/v_k estimate over the k=256
    // smallest md5-hash values of user_id next to the exact distinct
    // count. Unlike HLL (q43, opaque buffer) the KMV buffer is a SET of
    // minima — fully order- and partition-independent, exact below k —
    // so the estimate itself is deterministic and the oracle can demand
    // the exact side hash-match AND the estimate land inside the
    // 4-sigma band (rse = 1/sqrt(k-2) ≈ 6.3%). Shuffle: ≤ 256 longs
    // per (group, partition) partial — constant memory at any SF.
    "q155_kmv_sketch" -> NamedQuery(
      fn = (s, d) => {
        Tables.events(s, d)
          .withColumn("h",
            conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10).cast("long"))
          .groupBy("event_type")
          .agg(
            countDistinct(col("user_id")).as("n_exact"),
            expr("kmv_distinct(h, 256)").as("est"))
          .select(col("event_type"), col("n_exact"),
            (abs(col("est") - col("n_exact")) <= col("n_exact") * lit(0.25))
              .cast("int").as("kmv_ok"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, CAST(1 AS INT) AS kmv_ok
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""),
      doc = "native KMV distinct sketch (TypedImperativeAggregate) with a 4-sigma oracle band vs exact"),

    // ---------------------------------------------------------------- q160
    // The pushdown-friendly time-range scan (closes the documented
    // caveat at Tables.events): the one-week predicate rides the RAW
    // `ts` column via Tables.eventsInRange, so it reaches the parquet
    // scan as PushedFilters and row-group stats prune non-overlapping
    // groups — not the derived ts_us, which would filter above the
    // scan. Range bounds are fixed epoch-µs literals (2024-01-08 →
    // 2024-01-15, inside every SF's 30-day span); daily rollup after.
    // Plan-pinned in PlanAuditSpec: PushedFilters carries the ts range.
    "q160_time_range_scan" -> NamedQuery(
      fn = (s, d) => {
        Tables.eventsInRange(s, d, 1704672000000000L, 1705276800000000L)
          .withColumn("day", expr("ts_us div 86400000000"))
          .groupBy("day", "event_type")
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            exactSum(col("value")).as("sum_value"))
          .orderBy("day", "event_type")
      },
      oracle = Some("""
        SELECT epoch_us(ts) // 86400000000 AS day, event_type,
               COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        WHERE epoch_us(ts) >= 1704672000000000 AND epoch_us(ts) < 1705276800000000
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      doc = "time-range scan with the predicate pushed to the raw ts column (row-group pruning at scale)"),

    // ---------------------------------------------------------------- q161
    // Gaps-and-islands through the gate: TrackingOps.longestAccelStreak
    // (longest strictly-increasing run per timeline) on the events
    // stream — user_id as the timeline key, event_id as the frame
    // order, value as the monotone measure (null values reset the run
    // in all three implementations: windows, scan, DuckDB). All three
    // windows ride ONE (key, order) sort and the final max-aggregate
    // reuses the window's hash partitioning — one exchange total,
    // plan-pinned. Closes the last spec-only non-trivial op.
    "q161_longest_streak" -> NamedQuery(
      fn = (s, d) => {
        val ev = Tables.events(s, d).select(
          lit(1L).as("gameId"), lit(1L).as("playId"),
          col("user_id").as("nflId"), col("event_id").as("frameId"),
          col("value").as("s"))
        graft.football.TrackingOps.longestAccelStreak(ev)
          .select(col("nflId").as("user_id"),
            col("longest_accel_streak").cast("long").as("longest_streak"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH t AS (
          SELECT user_id,
                 CASE WHEN value > lag(value) OVER (PARTITION BY user_id ORDER BY event_id)
                      THEN 0 ELSE 1 END AS brk,
                 row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
          FROM events),
        isl AS (
          SELECT user_id, rn,
                 max(CASE WHEN brk = 1 THEN rn END)
                   OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS start_rn
          FROM t)
        SELECT user_id, CAST(max(rn - start_rn + 1) AS BIGINT) AS longest_streak
        FROM isl
        GROUP BY user_id
        ORDER BY user_id"""),
      doc = "gaps-and-islands longest increasing run (TrackingOps.longestAccelStreak) with a DuckDB islands oracle"),

    // --------------------------------------------------------------- q175
    // Interval union / coverage (§2.E extension; the "total active time"
    // primitive): each event opens an interval [ts, ts + value minutes);
    // overlapping intervals per user merge into blocks. Sweep-line form:
    // a running max of PRIOR interval ends marks block starts, a running
    // sum of block-start flags numbers the blocks, then two keyed
    // aggregations. One shuffle by user_id, every window inside that
    // same partitioning — the O(n log n) shape that replaces the
    // pairwise overlap self-join (O(n²) per user) a naive port would
    // write; at 100 TB only the sweep survives. All time math is exact
    // integer μs; the minutes→μs conversion floors on BOTH sides
    // (Spark's double→long cast truncates, DuckDB's CAST rounds — the
    // explicit floor removes the engine difference).
    "q175_interval_union" -> NamedQuery(
      fn = (s, d) => {
        val iv = graft.Tables.events(s, d).select(
          col("user_id"), col("event_id"), col("ts_us").as("s_us"),
          (col("ts_us") + floor(col("value") * lit(60000000.0)).cast("long")).as("e_us"))
        graft.ops.SweepOps.intervalUnion(iv, Seq("user_id"), "s_us", "e_us", Seq("event_id"))
          .select(col("user_id"), col("n_blocks"),
            col("covered").as("covered_us"), col("longest").as("longest_us"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH iv AS (
          SELECT user_id, event_id, epoch_us(ts) AS s_us,
                 epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS e_us
          FROM events),
        mk AS (
          SELECT user_id, s_us, e_us, event_id,
                 max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM iv),
        blk AS (
          SELECT user_id, s_us, e_us,
                 sum(CASE WHEN pmax IS NULL OR s_us > pmax THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                     ROWS UNBOUNDED PRECEDING) AS block
          FROM mk),
        agg AS (
          SELECT user_id, block, min(s_us) AS b_start, max(e_us) AS b_end
          FROM blk GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_blocks,
               CAST(SUM(b_end - b_start) AS BIGINT) AS covered_us,
               MAX(b_end - b_start) AS longest_us
        FROM agg GROUP BY user_id ORDER BY user_id"""),
      doc = "interval union / coverage per user: sweep-line merge of overlapping intervals in one keyed shuffle (§2.E extension)"),

    // --------------------------------------------------------------- q193
    // Sliding-window EXACT median per user (trailing 5 rows) — the
    // robust denoiser a rolling mean can't be (one spiky event drags a
    // mean for 5 rows; the median shrugs). Spark's exact `percentile`
    // aggregate runs inside the row-frame window; DuckDB mirrors with
    // windowed `median`. Both interpolate even-count middles as the
    // two-value average — computed via different float paths, so the
    // result is snapped at 6 decimals: medians of 2-decimal inputs have
    // ≤ 3 decimals, which is never near a 6-decimal rounding boundary,
    // making the snap tie-free by construction. One keyed shuffle.
    "q193_sliding_median" -> NamedQuery(
      fn = (s, d) => {
        graft.Tables.events(s, d)
          .withColumn("med", round(expr(
            "percentile(value, 0.5) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
              "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"), 6))
          .select("user_id", "event_id", "med")
          .orderBy("user_id", "event_id")
      },
      oracle = Some("""
        SELECT user_id, event_id,
               round(median(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med
        FROM events
        ORDER BY user_id, event_id"""),
      doc = "trailing exact sliding median per user: robust rolling denoiser, keyed window (§2.E extension)"),

    // --------------------------------------------------------------- q194
    // Mann-Whitney U (Wilcoxon rank-sum), SCALABLY: does `value` differ
    // in distribution between click and purchase events? The classic
    // formulation ranks the combined sample — a global row sort. This
    // one never ranks rows: collapse to per-DISTINCT-VALUE counts
    // (value-keyed aggregation), prefix-sum the counts over the value
    // order (PrefixSum, floor(value)-bucketed — keyed), and read the
    // tie-averaged rank per value as (2·cum_before + cnt + 1)/2, kept
    // in DOUBLED integer units so every rank sum is exact long
    // arithmetic. U, rank sums, and the tie term are exact integers;
    // the tie-corrected z is one unrounded IEEE chain on them
    // (PARITY.md rule 2). Completes the statistics-audit family:
    // chi-square (categorical), kappa (agreement), Wilson (proportion),
    // Spearman (correlation), Mann-Whitney (distribution shift).
    "q194_mann_whitney" -> NamedQuery(
      fn = (s, d) => {
        val vals = graft.Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy("value")
          .agg(count(lit(1)).as("cnt"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cnt_a"))
        val pre = graft.ops.PrefixSum.scalableRunningSum(vals,
            bucket = floor(col("value")).cast("long"), bucketName = "vbucket",
            orderCols = Seq("value"), valueCol = "cnt", outCol = "cum")
          .withColumn("cumbefore", col("cum") - col("cnt"))
        val agg = pre.agg(
          sum(col("cnt_a")).as("n_a"),
          sum(col("cnt") - col("cnt_a")).as("n_b"),
          sum(col("cnt_a") * (col("cumbefore") * 2 + col("cnt") + 1)).as("two_r_a"),
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties"))
        val nA = col("n_a").cast("double")
        val nB = col("n_b").cast("double")
        val nD = (col("n_a") + col("n_b")).cast("double")
        agg.withColumn("two_u_a", col("two_r_a") - col("n_a") * (col("n_a") + 1))
          .withColumn("z",
            (col("two_u_a").cast("double") - nA * col("n_b")) /
              (lit(2d) * sqrt(nA * col("n_b") / lit(12.0) *
                ((nD + lit(1d)) - col("ties").cast("double") / (nD * (nD - lit(1d)))))))
          .select("n_a", "n_b", "two_r_a", "two_u_a", "ties", "z")
      },
      oracle = Some("""
        WITH f AS (
          SELECT value, event_type FROM events
          WHERE event_type IN ('click', 'purchase')),
        vals AS (
          SELECT value, COUNT(*) AS cnt,
                 CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS cnt_a
          FROM f GROUP BY value),
        pre AS (
          SELECT value, cnt, cnt_a,
                 CAST(COALESCE(SUM(cnt) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumbefore
          FROM vals),
        agg AS (
          SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
                 CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
                 CAST(SUM(cnt_a * (2 * cumbefore + cnt + 1)) AS BIGINT) AS two_r_a,
                 CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
          FROM pre)
        SELECT n_a, n_b, two_r_a,
               two_r_a - n_a * (n_a + 1) AS two_u_a,
               ties,
               (CAST(two_r_a - n_a * (n_a + 1) AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)
               / (2 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                           * ((CAST(n_a + n_b AS DOUBLE) + 1)
                              - CAST(ties AS DOUBLE)
                                / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1))))) AS z
        FROM agg"""),
      doc = "Mann-Whitney U without a global row sort: value-keyed tie-averaged ranks via prefix sum, exact-integer U, unrounded tie-corrected z (statistics audit)"),

    // --------------------------------------------------------------- q195
    // Two-sample Kolmogorov-Smirnov on the same scaffolding as q194 —
    // D = max |ECDF_a − ECDF_b|, computed with an EXACT INTEGER
    // numerator: at each distinct value, |cum_a·n_b − cum_b·n_a| is a
    // long, the max is a keyed aggregate, and D = d_num/(n_a·n_b) is
    // the one (exactly-representable) division at the end — zero float
    // anywhere in the data path. ECDFs come from two value-keyed
    // prefix sums (PrefixSum, floor(value) buckets); the two totals
    // are a 1-row broadcast attach (F5-class).
    "q195_ks_test" -> NamedQuery(
      fn = (s, d) => {
        val vals = graft.Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy("value")
          .agg(count(lit(1)).as("cnt"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cnt_a"))
        val cum = graft.ops.PrefixSum.scalableRunningSum(vals,
          bucket = floor(col("value")).cast("long"), bucketName = "vbucket",
          orderCols = Seq("value"), valueCol = "cnt", outCol = "cum")
        val pre = graft.ops.PrefixSum.scalableRunningSum(cum,
            bucket = col("vbucket"), bucketName = "vbucket",
            orderCols = Seq("value"), valueCol = "cnt_a", outCol = "cum_a")
          .withColumn("cum_b", col("cum") - col("cum_a"))
        val totals = pre.agg(sum(col("cnt_a")).as("n_a"),
          sum(col("cnt") - col("cnt_a")).as("n_b"))
        pre.crossJoin(broadcast(totals))
          .withColumn("diff", abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
          .groupBy("n_a", "n_b")
          .agg(max(col("diff")).as("d_num"))
          .withColumn("d", col("d_num").cast("double") / (col("n_a") * col("n_b")).cast("double"))
          .select("n_a", "n_b", "d_num", "d")
      },
      oracle = Some("""
        WITH f AS (
          SELECT value, event_type FROM events
          WHERE event_type IN ('click', 'purchase')),
        vals AS (
          SELECT value, COUNT(*) AS cnt,
                 CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS cnt_a
          FROM f GROUP BY value),
        pre AS (
          SELECT value, cnt, cnt_a,
                 CAST(SUM(cnt) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(SUM(cnt_a) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a
          FROM vals),
        tot AS (
          SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
                 CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b
          FROM pre)
        SELECT t.n_a, t.n_b,
               CAST(MAX(abs(p.cum_a * t.n_b - (p.cum - p.cum_a) * t.n_a)) AS BIGINT) AS d_num,
               CAST(MAX(abs(p.cum_a * t.n_b - (p.cum - p.cum_a) * t.n_a)) AS DOUBLE)
                 / (CAST(t.n_a AS DOUBLE) * t.n_b) AS d
        FROM pre p CROSS JOIN tot t
        GROUP BY t.n_a, t.n_b"""),
      doc = "two-sample Kolmogorov-Smirnov: exact-integer ECDF-difference numerator over prefix-summed value counts, one final division (statistics audit)"),

    // --------------------------------------------------------------- q198
    // Closed-form OLS per event_type: value regressed on time (seconds
    // since 2024-01-01) — the drift-detection primitive ("is this
    // metric trending?") without any ML-library dependence. Parity
    // design (reworked round 10, ADVICE: the previous raw
    // decimal→double casts of sxy/syy crossed 2^53 around sf10, where
    // DuckDB's int128→double cast is not correctly rounded —
    // PARITY.md rule 6): EVERYTHING stays exact integers — x is
    // integer seconds, y is centi-units (the q200/q204 quantization),
    // all five moment sums are DECIMAL(38,0), and cov/var are exact
    // decimal algebra. slope/intercept/r² are then DECLARED in
    // trunc-micro units via exact integral division (`div` and
    // DuckDB's `//` both truncate toward zero, verified on negatives),
    // with the declared spec (staged divisions keep every intermediate
    // under DECIMAL(38)/HUGEINT range at any SF; each stage's
    // truncation contributes < 1 micro or a negligible relative error):
    //   slope_micro     = (10⁴·cov_c) div var_x          [cov_c in centi]
    //   intercept_micro = (10⁴·(syc·var_x − cov_c·sx)) div (n·var_x),
    //                     NEVER materializing either product (at the
    //                     round-12 time-disjoint sf10, syc·var_x alone
    //                     reaches ~2.4e38 — past INT128/DECIMAL(38)).
    //                     Both numerator terms are expanded EXACTLY by
    //                     staged quotient-remainder against n then
    //                     var_x (trunc(q + x/D) = q + trunc(x/D) for
    //                     integer q):
    //                       rc = 10⁴·cov_c − slope_micro·var_x
    //                       q6,r6 = sx divmod n;  q4,r4 = slope_micro·sx divmod n
    //                       q7,r7 = q6·rc divmod var_x
    //                       qy,ry = 10⁴·syc divmod n
    //                       intercept_micro = qy − q4 − q7 +
    //                         ((ry−r4)·var_x − n·r7 − r6·rc) div (n·var_x)
    //                     — PARITY-EXACT across engines (both run the
    //                     identical expansion), every intermediate
    //                     ≤ ~4·n·var_x. NOT always equal to the
    //                     one-shot trunc: trunc(q + x/D) = q + trunc(x/D)
    //                     requires the extracted quotient q and the
    //                     residual x to agree in sign, and the staged
    //                     residual here can oppose the quotient — so
    //                     intercept_micro may deviate ±1 micro from the
    //                     one-shot division (round-12 advisor,
    //                     numerically confirmed on ~17% of random
    //                     consistent datasets). The declared contract is
    //                     therefore THIS expansion, micro-quantized with
    //                     ≤1-micro staging slack; the 2e-6 spec
    //                     tolerance and engine parity are unaffected
    //   r2_micro        = (a9·cov_c) div (10³·var_yc),
    //                     a9 = (10⁹·cov_c) div var_x
    //                     (a9's 10⁻⁹ quantization keeps the r2 error
    //                      well under 1 micro). The PRODUCT a9·cov_c is
    //                     bounded by 10⁹·var_yc (Cauchy-Schwarz) — which
    //                     the round-12 time-disjoint sf10 regeneration
    //                     pushed past INT128/DECIMAL(38) (measured:
    //                     a9·cov_c ≈ 2.4e38 > 1.7e38; DuckDB raised an
    //                     overflow error and Spark's non-ANSI decimal
    //                     multiply would have gone NULL). So the product
    //                     is EXPANDED EXACTLY, never materialized:
    //                     a9 = a9h·10⁶ + a9l and 10⁶·cov_c = c1·D + r1
    //                     (D = 10³·var_yc), giving
    //                       r2_micro = a9h·c1 + (a9h·r1 + a9l·cov_c) div D
    //                     — exact because trunc(q + x/D) = q + trunc(x/D)
    //                     for integer q, with every intermediate ≤
    //                     max(10⁶·cov_c, a9h·D) ≈ 10⁻³·(10⁹·var_yc),
    //                     three decimal digits of extra headroom over
    //                     the naive product (holds through the measured
    //                     sf10; the binding term at larger SF is a9's
    //                     own numerator 10⁹·cov_c, ~2.4e37 at sf10).
    // — no decimal→double cast ever touches a value above 2^53, so
    // parity survives any SF. One keyed aggregation, 5 groups; at
    // 100 TB this is a map-side-combined scan, no second pass.
    // (x range note: time-disjoint derived histories make x ≈ 2.7e8 s
    // at sf10 and 2.7e9 s at sf100; row-level x·x stays under 2^63 —
    // 7.3e18 at sf100 — and the sums are DECIMAL(38,0) regardless.)
    "q198_ols_trend" -> NamedQuery(
      fn = (s, d) => {
        val ev = graft.Tables.events(s, d)
          // integer seconds since 2024-01-01T00:00Z (div = long division)
          .withColumn("x", expr("ts_us div 1000000") - lit(1704067200L))
          // exact centi-units: value is 2-decimal quantized (q200)
          .withColumn("yc", round(col("value") * 100).cast("long"))
        // row-level products fit a long (x ≤ 2.6e6, yc ≤ ~1e6); the
        // SUMS go through DECIMAL(38,0), exact at any SF
        val agg = ev.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum((col("x") * col("x")).cast(DecimalType(38, 0))).as("sxx"),
          sum((col("x") * col("yc")).cast(DecimalType(38, 0))).as("sxyc"),
          sum(col("yc")).as("syc"),
          sum((col("yc") * col("yc")).cast(DecimalType(38, 0))).as("syyc"))
        agg
          .withColumn("cov_c",
            expr("cast(n as decimal(38,0)) * sxyc - cast(sx as decimal(38,0)) * syc"))
          .withColumn("var_x",
            expr("cast(n as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx"))
          .withColumn("var_yc",
            expr("cast(n as decimal(38,0)) * syyc - cast(syc as decimal(38,0)) * syc"))
          .withColumn("slope_micro", expr("(cov_c * 10000) div var_x"))
          .withColumn("a9", expr("(cov_c * 1000000000) div var_x"))
          .withColumn("rc",
            expr("cov_c * 10000 - cast(slope_micro as decimal(38,0)) * var_x"))
          .withColumn("q6", expr("sx div n"))
          .withColumn("r6", expr("sx - q6 * n"))
          .withColumn("q4", expr("(cast(slope_micro as decimal(38,0)) * sx) div n"))
          .withColumn("r4",
            expr("cast(slope_micro as decimal(38,0)) * sx - cast(q4 as decimal(38,0)) * n"))
          .withColumn("q7", expr("(cast(q6 as decimal(38,0)) * rc) div var_x"))
          .withColumn("r7",
            expr("cast(q6 as decimal(38,0)) * rc - cast(q7 as decimal(38,0)) * var_x"))
          .withColumn("qy", expr("(cast(syc as decimal(38,0)) * 10000) div n"))
          .withColumn("ry",
            expr("cast(syc as decimal(38,0)) * 10000 - cast(qy as decimal(38,0)) * n"))
          .withColumn("icp_m", expr("cast(n as decimal(38,0)) * var_x"))
          .withColumn("intercept_micro",
            expr("qy - q4 - q7 + ((ry - r4) * var_x - cast(n as decimal(38,0)) * r7 - cast(r6 as decimal(38,0)) * rc) div icp_m"))
          .withColumn("a9h", expr("a9 div 1000000"))
          .withColumn("a9l", expr("a9 - a9h * 1000000"))
          .withColumn("dD", expr("var_yc * 1000"))
          .withColumn("c1", expr("(cov_c * 1000000) div dD"))
          .withColumn("r1", expr("cov_c * 1000000 - c1 * dD"))
          .withColumn("r2_micro",
            expr("a9h * c1 + (a9h * r1 + a9l * cov_c) div dD"))
          .withColumn("slope", col("slope_micro").cast("double") / 1e6)
          .withColumn("intercept", col("intercept_micro").cast("double") / 1e6)
          .withColumn("r2", col("r2_micro").cast("double") / 1e6)
          .select("event_type", "n", "slope_micro", "intercept_micro", "r2_micro",
            "slope", "intercept", "r2")
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH m AS (
          SELECT event_type,
                 COUNT(*) AS n,
                 CAST(SUM(x) AS HUGEINT) AS sx,
                 CAST(SUM(x * x) AS HUGEINT) AS sxx,
                 CAST(SUM(x * yc) AS HUGEINT) AS sxyc,
                 CAST(SUM(yc) AS HUGEINT) AS syc,
                 CAST(SUM(yc * yc) AS HUGEINT) AS syyc
          FROM (SELECT event_type,
                       epoch_us(ts) // 1000000 - 1704067200 AS x,
                       CAST(round(value * 100) AS BIGINT) AS yc
                FROM events)
          GROUP BY event_type),
        e AS (
          SELECT event_type, n, sx, syc,
                 n * sxyc - sx * syc AS cov_c,
                 n * sxx - sx * sx AS var_x,
                 n * syyc - syc * syc AS var_yc
          FROM m),
        f AS (
          SELECT event_type, n, sx, syc, cov_c, var_x, var_yc,
                 (cov_c * 10000) // var_x AS slope_micro,
                 (cov_c * 1000000000) // var_x AS a9
          FROM e),
        fi AS (
          SELECT *,
                 cov_c * 10000 - slope_micro * var_x AS rc,
                 sx // n AS q6,
                 sx - (sx // n) * n AS r6,
                 (slope_micro * sx) // n AS q4,
                 slope_micro * sx - ((slope_micro * sx) // n) * n AS r4,
                 (syc * 10000) // n AS qy,
                 syc * 10000 - ((syc * 10000) // n) * n AS ry
          FROM f),
        fx AS (
          SELECT *,
                 (q6 * rc) // var_x AS q7,
                 q6 * rc - ((q6 * rc) // var_x) * var_x AS r7,
                 a9 // 1000000 AS a9h,
                 a9 - (a9 // 1000000) * 1000000 AS a9l,
                 var_yc * 1000 AS dd,
                 (cov_c * 1000000) // (var_yc * 1000) AS c1,
                 cov_c * 1000000
                   - ((cov_c * 1000000) // (var_yc * 1000)) * (var_yc * 1000) AS r1
          FROM fi),
        g AS (
          SELECT event_type, n, slope_micro,
                 qy - q4 - q7
                   + ((ry - r4) * var_x - n * r7 - r6 * rc) // (n * var_x) AS intercept_micro,
                 a9h * c1 + (a9h * r1 + a9l * cov_c) // dd AS r2_micro
          FROM fx)
        SELECT event_type, n,
               CAST(slope_micro AS BIGINT) AS slope_micro,
               CAST(intercept_micro AS BIGINT) AS intercept_micro,
               CAST(r2_micro AS BIGINT) AS r2_micro,
               CAST(CAST(slope_micro AS BIGINT) AS DOUBLE) / 1e6 AS slope,
               CAST(CAST(intercept_micro AS BIGINT) AS DOUBLE) / 1e6 AS intercept,
               CAST(CAST(r2_micro AS BIGINT) AS DOUBLE) / 1e6 AS r2
        FROM g
        ORDER BY event_type"""),
      doc = "closed-form OLS trend per event_type: exact integer/decimal moments, slope/intercept/r2 declared in trunc-micro units — no >2^53 decimal->double cast (statistics audit)"),

    // --------------------------------------------------------------- q199
    // HyperLogLog++ through the gate, q168-style: Spark's built-in
    // approx_count_distinct (the 100 TB cardinality workhorse — the
    // exact per-key countDistinct it replaces is a full shuffle of the
    // key universe) is checked against exact distincts as a RELATIONAL
    // assertion. The sketch estimate itself is deterministic for a
    // given dataset but not oracle-reproducible, so the gate output is
    // the scoreboard: per event_type, exact count + estimate-within-3σ
    // flag (rsd 0.05 ⇒ ±15%), which DuckDB asserts as literal TRUE —
    // the hash fails if any estimate ever drifts out of its published
    // bound. (At these cardinalities HLL++ runs in sparse mode and is
    // typically exact; the bound is the contract, not the observation.)
    "q199_hll_bound_gate" -> NamedQuery(
      fn = (s, d) => {
        graft.Tables.events(s, d)
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id"), 0.05).as("est"))
          .withColumn("within_3sigma",
            abs(col("est") - col("exact_users")).cast("double") <=
              lit(0.15) * col("exact_users"))
          .select("event_type", "exact_users", "within_3sigma")
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_3sigma
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""),
      doc = "HyperLogLog++ cardinality gate: approx_count_distinct vs exact, published 3-sigma bound asserted relationally (sketch audit)"),

    // --------------------------------------------------------------- q200
    // Benford first-significant-digit audit on `value` — the classic
    // fabricated-data screen. Digit extraction is LOG-FREE (log10-based
    // extraction flips buckets when libm disagrees at exact powers of
    // ten — this corpus has values like 100.00): value is 2-decimal
    // quantized, so round(value·100) is an exact integer in centi-units
    // whose decimal-string first character IS the first significant
    // digit — integer-to-string is identical in both engines. Expected
    // Benford mass n·log10(1+1/d) and the χ² terms are floor-micro'd
    // per digit (q191 recipe), counts are exact longs.
    "q200_benford_audit" -> NamedQuery(
      fn = (s, d) => {
        val digits = graft.Tables.events(s, d)
          .filter(col("value") > 0)
          .withColumn("d1",
            substring(round(col("value") * 100).cast("long").cast("string"), 1, 1)
              .cast("long"))
          .groupBy("d1").agg(count(lit(1)).as("o"))
        val n = digits.agg(sum(col("o")).as("n"))
        digits.crossJoin(broadcast(n))
          .withColumn("p", log10(lit(1.0) + lit(1.0) / col("d1").cast("double")))
          .withColumn("e", col("n").cast("double") * col("p"))
          .withColumn("e_micro", floor(col("e") * 1e6).cast("long"))
          .withColumn("term_micro",
            floor((col("o") - col("e")) * (col("o") - col("e")) / col("e") * 1e6).cast("long"))
          .select("d1", "o", "n", "e_micro", "term_micro")
          .orderBy("d1")
      },
      oracle = Some("""
        WITH digits AS (
          SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d1,
                 COUNT(*) AS o
          FROM events WHERE value > 0 GROUP BY 1),
        n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM digits)
        SELECT d1, o, n.n,
               CAST(floor(CAST(n.n AS DOUBLE) * log10(1 + 1.0 / d1) * 1e6) AS BIGINT) AS e_micro,
               CAST(floor((o - CAST(n.n AS DOUBLE) * log10(1 + 1.0 / d1))
                          * (o - CAST(n.n AS DOUBLE) * log10(1 + 1.0 / d1))
                          / (CAST(n.n AS DOUBLE) * log10(1 + 1.0 / d1)) * 1e6) AS BIGINT) AS term_micro
        FROM digits CROSS JOIN n
        ORDER BY d1"""),
      doc = "Benford first-digit audit: log-free digit extraction via exact centi-unit integer strings, floor-micro chi-square terms vs Benford expectation (DQ audit)"),

    // --------------------------------------------------------------- q202
    // Welch's unequal-variance t-test (click vs purchase value) — the
    // last member of the statistics-audit family: does the MEAN differ,
    // where q194 asked about distribution and q195 about shape.
    // Parity design (reworked round 10, ADVICE — same 2^53 hazard as
    // q198): moments are exact centi-unit integers summed as
    // DECIMAL(38,0); per-group mean and variance are DECLARED in
    // trunc-micro units via exact integral division
    //   mean_micro = (10⁴·syc) div n
    //   var_micro  = (100·(n·syyc − syc²)) div (n·(n−1))
    // and t / Welch-Satterthwaite df are then ONE unrounded IEEE chain
    // on the micro-derived doubles (micro values ≪ 2^53, so the
    // double derivation is exact and identical in both engines —
    // PARITY.md rule 2). One 2-group keyed aggregation; the group
    // pivot is a 1-row aggregate, not a collect.
    "q202_welch_ttest" -> NamedQuery(
      fn = (s, d) => {
        val moments = graft.Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .withColumn("yc", round(col("value") * 100).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("yc")).as("syc"),
            sum((col("yc") * col("yc")).cast(DecimalType(38, 0))).as("syyc"))
          .withColumn("mean_micro", expr("(syc * 10000) div n"))
          .withColumn("var_micro",
            expr("(100 * (cast(n as decimal(38,0)) * syyc - cast(syc as decimal(38,0)) * syc)) div (n * (n - 1))"))
          .withColumn("mean", col("mean_micro").cast("double") / 1e6)
          .withColumn("vr", col("var_micro").cast("double") / 1e6)
        val wide = moments.agg(
          max(when(col("event_type") === "click", col("n"))).as("n1"),
          max(when(col("event_type") === "click", col("mean"))).as("mean1"),
          max(when(col("event_type") === "click", col("vr"))).as("var1"),
          max(when(col("event_type") === "purchase", col("n"))).as("n2"),
          max(when(col("event_type") === "purchase", col("mean"))).as("mean2"),
          max(when(col("event_type") === "purchase", col("vr"))).as("var2"))
        val se1 = col("var1") / col("n1").cast("double")
        val se2 = col("var2") / col("n2").cast("double")
        wide
          .withColumn("t", (col("mean1") - col("mean2")) / sqrt(se1 + se2))
          .withColumn("df",
            (se1 + se2) * (se1 + se2) /
              (se1 * se1 / (col("n1") - 1L).cast("double") +
               se2 * se2 / (col("n2") - 1L).cast("double")))
          .select("n1", "mean1", "var1", "n2", "mean2", "var2", "t", "df")
      },
      oracle = Some("""
        WITH m AS (
          SELECT event_type, COUNT(*) AS n,
                 CAST(SUM(yc) AS HUGEINT) AS syc,
                 CAST(SUM(yc * yc) AS HUGEINT) AS syyc
          FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS yc
                FROM events WHERE event_type IN ('click', 'purchase'))
          GROUP BY event_type),
        s AS (
          SELECT event_type, n,
                 CAST(CAST((syc * 10000) // n AS BIGINT) AS DOUBLE) / 1e6 AS mean,
                 CAST(CAST((100 * (n * syyc - syc * syc)) // (n * (n - 1)) AS BIGINT) AS DOUBLE) / 1e6 AS vr
          FROM m),
        w AS (
          SELECT MAX(n) FILTER (event_type = 'click') AS n1,
                 MAX(mean) FILTER (event_type = 'click') AS mean1,
                 MAX(vr) FILTER (event_type = 'click') AS var1,
                 MAX(n) FILTER (event_type = 'purchase') AS n2,
                 MAX(mean) FILTER (event_type = 'purchase') AS mean2,
                 MAX(vr) FILTER (event_type = 'purchase') AS var2
          FROM s)
        SELECT n1, mean1, var1, n2, mean2, var2,
               (mean1 - mean2) / sqrt(var1 / n1 + var2 / n2) AS t,
               (var1 / n1 + var2 / n2) * (var1 / n1 + var2 / n2)
                 / ((var1 / n1) * (var1 / n1) / (n1 - 1)
                    + (var2 / n2) * (var2 / n2) / (n2 - 1)) AS df
        FROM w"""),
      doc = "Welch unequal-variance t-test: trunc-micro exact moments, unrounded IEEE t and Welch-Satterthwaite df on identical micro-derived doubles (statistics audit)"),

    // --------------------------------------------------------------- q204
    // Autocorrelation function (lags 1–6) of the hourly value series
    // per event_type — the seasonality probe of the time-series audit
    // family. EXACT-INTEGER design end to end: hourly totals in
    // centi-units (longs, the q200 quantization), deviations scaled by
    // n (d_h = n·y_h − S, integer — no rational mean anywhere), and
    // lag products summed as DECIMAL(38,0); r_k = C_k/C_0 is declared
    // in floor-micro units (the sums exceed 2^53, where DuckDB's
    // int128→double cast stops being correctly rounded — measured at
    // sf0.1, 1-ulp flip). Lag semantics are
    // hour-INDEX join (h ↔ h+k on the keyed hour frame), identical on
    // both sides and gap-safe; C_0 uses all n hours (standard ACF
    // normalization). Everything keyed: at 100 TB the hour frame is
    // the aggregate of the scan, and the ×6 lag fan-out is on the
    // hour-grain frame, not on rows.
    "q204_hourly_acf" -> NamedQuery(
      fn = (s, d) => {
        val hours = graft.Tables.events(s, d)
          .withColumn("h", expr("ts_us div 3600000000"))
          .groupBy("event_type", "h")
          .agg(sum(round(col("value") * 100).cast("long")).as("yc"))
        val tot = hours.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("yc")).as("s"))
        val dev = hours.join(tot, Seq("event_type"))
          .withColumn("dv", col("n") * col("yc") - col("s"))
          .select("event_type", "h", "n", "dv")
        val c0 = dev.groupBy("event_type")
          .agg(sum(col("dv").cast(DecimalType(19, 0)) * col("dv")).as("c0"))
        val ks = s.range(1, 7).select(col("id").as("k"))
        val partner = dev.select(col("event_type"), col("h").as("hb"), col("dv").as("dvb"))
        dev.crossJoin(broadcast(ks))
          .join(partner,
            partner("event_type") === dev("event_type") && col("hb") === col("h") + col("k"))
          .drop(partner("event_type"))
          .groupBy("event_type", "k")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("dv").cast(DecimalType(19, 0)) * col("dvb")).as("ck"))
          .join(c0, Seq("event_type"))
          // the decimal sums exceed 2^53, and DuckDB's int128→double cast
          // is not correctly rounded — so r is DECLARED in floor-micro
          // units (q191 recipe) rather than asserted to the last ulp
          .withColumn("r_micro",
            floor(col("ck").cast("double") / col("c0").cast("double") * 1e6).cast("long"))
          .withColumn("r", col("r_micro").cast("double") / 1e6)
          .select("event_type", "k", "n_pairs", "r_micro", "r")
          .orderBy("event_type", "k")
      },
      oracle = Some("""
        WITH hours AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS h,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
          FROM events GROUP BY 1, 2),
        tot AS (
          SELECT event_type, COUNT(*) AS n, CAST(SUM(yc) AS BIGINT) AS s
          FROM hours GROUP BY 1),
        dev AS (
          SELECT h.event_type, h.h, t.n, t.n * h.yc - t.s AS dv
          FROM hours h JOIN tot t USING (event_type)),
        c0 AS (
          SELECT event_type, SUM(CAST(dv AS DECIMAL(19,0)) * dv) AS c0
          FROM dev GROUP BY 1),
        ck AS (
          SELECT a.event_type, k.k, COUNT(*) AS n_pairs,
                 SUM(CAST(a.dv AS DECIMAL(19,0)) * b.dv) AS ck
          FROM dev a
          CROSS JOIN generate_series(1, 6) k(k)
          JOIN dev b ON b.event_type = a.event_type AND b.h = a.h + k.k
          GROUP BY 1, 2)
        SELECT ck.event_type, CAST(ck.k AS BIGINT) AS k, ck.n_pairs,
               CAST(floor(CAST(ck.ck AS DOUBLE) / CAST(c0.c0 AS DOUBLE) * 1e6) AS BIGINT) AS r_micro,
               CAST(CAST(floor(CAST(ck.ck AS DOUBLE) / CAST(c0.c0 AS DOUBLE) * 1e6) AS BIGINT) AS DOUBLE) / 1e6 AS r
        FROM ck JOIN c0 USING (event_type)
        ORDER BY event_type, k"""),
      doc = "hourly autocorrelation (lags 1-6) per event_type: exact-integer scaled deviations, decimal lag-product sums, one final division (time-series audit)"),

    // --------------------------------------------------------------- q205
    // CUSUM change-point detection on the same hourly series: the
    // running sum of mean-deviations peaks (in absolute value) at the
    // most likely level-shift point. Same exact-integer scaffolding as
    // q204 (n-scaled deviations, so the mean is never a rational); the
    // running sum is a KEYED window per event_type (hour-grain frame —
    // already aggregated, scales), the argmax is row_number over
    // (|cusum| desc, h asc) — pinned tie order. The last-hour CUSUM is
    // identically 0 (Σd = 0), a built-in self-check the spec asserts.
    "q205_cusum_changepoint" -> NamedQuery(
      fn = (s, d) => {
        val hours = graft.Tables.events(s, d)
          .withColumn("h", expr("ts_us div 3600000000"))
          .groupBy("event_type", "h")
          .agg(sum(round(col("value") * 100).cast("long")).as("yc"))
        val tot = hours.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("yc")).as("s"))
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cusum = hours.join(tot, Seq("event_type"))
          .withColumn("dv", col("n") * col("yc") - col("s"))
          .withColumn("cusum", sum(col("dv")).over(w))
        val pick = Window.partitionBy("event_type")
          .orderBy(abs(col("cusum")).desc, col("h").asc)
        cusum.withColumn("rn", row_number().over(pick))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("n").as("n_hours"),
            col("h").as("cp_hour"), col("cusum").as("cusum_at_cp"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH hours AS (
          SELECT event_type, epoch_us(ts) // 3600000000 AS h,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS yc
          FROM events GROUP BY 1, 2),
        tot AS (
          SELECT event_type, COUNT(*) AS n, CAST(SUM(yc) AS BIGINT) AS s
          FROM hours GROUP BY 1),
        cusum AS (
          SELECT h.event_type, h.h, t.n,
                 CAST(SUM(t.n * h.yc - t.s) OVER (PARTITION BY h.event_type ORDER BY h.h
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum
          FROM hours h JOIN tot t USING (event_type)),
        pick AS (
          SELECT event_type, n, h, cusum,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY abs(cusum) DESC, h ASC) AS rn
          FROM cusum)
        SELECT event_type, n AS n_hours, h AS cp_hour, cusum AS cusum_at_cp
        FROM pick WHERE rn = 1
        ORDER BY event_type"""),
      doc = "CUSUM change-point per event_type: exact-integer running deviation sum on the keyed hour frame, pinned-tie argmax (time-series audit)"),

    // --------------------------------------------------------------- q206
    // The quantile sketch through the gate — completes the sketch-audit
    // set (HLL q199, count-min q179, space-saving q168, KMV q155,
    // bloom q129): approx_percentile (Spark's KLL-style mergeable
    // summary, the 100 TB quantile workhorse) is checked against its
    // published RANK-error bound as a relational assertion. The exact
    // side is a DISCRETE quantile spelled explicitly as a rank formula
    // (rank ⌊p·(n−1)⌋+1 over (value, event_id) — pinned total order,
    // no interpolation, so parity is element-exact); the sketch side's
    // estimate has its true rank measured by a count-below join, and
    // the gate asserts |rank − p·n| ≤ n/accuracy + 1 for p ∈ {0.5,
    // 0.95}. DuckDB hard-codes TRUE — the hash fails if the sketch
    // ever drifts out of bound. The per-group sort behind the exact
    // side is the cost the sketch REPLACES at scale; it exists here
    // only to audit the sketch.
    "q206_quantile_sketch_gate" -> NamedQuery(
      fn = (s, d) => {
        val acc = 1000
        val ev = graft.Tables.events(s, d).select(col("event_type"), col("value"), col("event_id"))
        val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
        val ranked = ev.withColumn("rn", row_number().over(w)).join(n, Seq("event_type"))
        val exact = ranked
          .filter(col("rn") === floor(lit(0.5) * (col("n") - 1)).cast("long") + 1 ||
            col("rn") === floor(lit(0.95) * (col("n") - 1)).cast("long") + 1)
          .groupBy("event_type", "n")
          .agg(min(col("value")).as("p50_exact"), max(col("value")).as("p95_exact"))
        val apx = ev.groupBy("event_type").agg(
          percentile_approx(col("value"), lit(0.5), lit(acc)).as("a50"),
          percentile_approx(col("value"), lit(0.95), lit(acc)).as("a95"))
        val ranksOfApx = ev.join(broadcast(apx), Seq("event_type"))
          .groupBy("event_type")
          .agg(sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("r50"),
            sum(when(col("value") <= col("a95"), 1L).otherwise(0L)).as("r95"))
        exact.join(ranksOfApx, Seq("event_type"))
          .withColumn("tol", col("n").cast("double") / acc + 1)
          .withColumn("p50_in_bound",
            abs(col("r50").cast("double") - lit(0.5) * col("n")) <= col("tol"))
          .withColumn("p95_in_bound",
            abs(col("r95").cast("double") - lit(0.95) * col("n")) <= col("tol"))
          .select("event_type", "n", "p50_exact", "p95_exact", "p50_in_bound", "p95_in_bound")
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH ranked AS (
          SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM events)
        SELECT event_type, n,
               MIN(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1 THEN value END) AS p50_exact,
               MIN(CASE WHEN rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1 THEN value END) AS p95_exact,
               TRUE AS p50_in_bound,
               TRUE AS p95_in_bound
        FROM ranked
        GROUP BY event_type, n
        ORDER BY event_type"""),
      doc = "quantile sketch gate: approx_percentile rank error vs published bound as relational assertion, element-exact discrete quantiles as reference (sketch audit)"),

    // --------------------------------------------------------------- q207
    // Bootstrap confidence interval for the mean — DETERMINISTIC
    // resampling at scale: replicate b's i-th draw is the row at index
    // md5(type#b#i) mod n, so the B×n resample grid is a pure function
    // of the data (the md5 idiom of the sampling family q26/q27,
    // partition-count-independent) and both engines build the SAME
    // resamples. Replicate means are exact cents sums over a
    // keyed index join; the CI is a discrete quantile over the B=32
    // replicate means (rank formula, (mean, b)-pinned order). At
    // 100 TB: the grid is B× the fact rows, sharded by the same index
    // join key — embarrassingly parallel, no sort of the raw data.
    "q207_bootstrap_ci" -> NamedQuery(
      fn = (s, d) => {
        val B = 32
        val ev = graft.Tables.events(s, d)
          .withColumn("idx",
            row_number().over(Window.partitionBy("event_type").orderBy("event_id")) - 1)
          .select(col("event_type"), col("idx").cast("long").as("idx"), ExactSums.cents(col("value"), 2).as("y"))
        // Per-type sizes collected to the driver (one row per event
        // type — bounded metadata, the q123 maxUs idiom): the i domain
        // is exactly 0..n-1 per type, so it can be GENERATED from a
        // parallel Range instead of re-deriving ev a second time — the
        // old shape scanned events twice more (i-domain + size join)
        // and re-ran the type-keyed ranking window (a sort bounded by
        // #types tasks, the query's serial floor), then needed a
        // repartition("i") exchange to undo that skew before the
        // fan-out. Range(0, maxN) is born evenly split across cores: no
        // second window, no repartition exchange, one fewer scan
        // (guide §2.4 / §2.5).
        val nRows = graft.Tables.events(s, d)
          .groupBy("event_type").agg(count(lit(1)).as("n")).collect()
        val maxN = nRows.map(_.getLong(1)).max
        val nDf = s.createDataFrame(
          java.util.Arrays.asList(nRows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("et",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType, nullable = false))))
        val reps = s.range(0, B).select(col("id").as("b"))
        // the B indices per row come from ONE md5 via Carter-Wegman
        // affine combination (the DedupOps minhash idiom) — hashing per
        // (b,i) was measured 3× slower at sf0.1. h2 is 56-bit so
        // b·h2 (b ≤ 31) stays far from long overflow.
        val draws = s.range(0, maxN).select(col("id").as("i"))
          .crossJoin(broadcast(nDf))
          .filter(col("i") < col("n"))
          .withColumn("hh", md5(concat(col("et"), lit("#"), col("i"))))
          .withColumn("h1", conv(substring(col("hh"), 1, 15), 16, 10).cast("long"))
          .withColumn("h2", conv(substring(col("hh"), 17, 14), 16, 10).cast("long"))
          .crossJoin(broadcast(reps))
          .withColumn("j",
            ((col("h1") + col("b") * col("h2")) % lit(2305843009213693951L)) % col("n"))
          .select(col("et"), col("n"), col("b"), col("j"))
        val means = draws.join(ev,
            col("et") === col("event_type") && col("j") === col("idx"))
          .groupBy(col("et").as("event_type"), col("b"))
          .agg((ExactSums.toDouble(ExactSums.total(Seq(col("y"))), 2) / min(col("n")).cast("double")).as("mean_b"))
        val wq = Window.partitionBy("event_type").orderBy(col("mean_b"), col("b"))
        val loRank = 1 + math.floor(0.025 * (B - 1)).toLong
        val hiRank = 1 + math.floor(0.975 * (B - 1)).toLong
        means.withColumn("rq", row_number().over(wq))
          .filter(col("rq") === loRank || col("rq") === hiRank)
          .groupBy("event_type")
          .agg(min(col("mean_b")).as("ci_lo"), max(col("mean_b")).as("ci_hi"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT event_type,
                 row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1 AS idx,
                 CAST(value AS DECIMAL(18,2)) AS y
          FROM events),
        n AS (SELECT event_type, COUNT(*) AS n FROM ev GROUP BY 1),
        hashed AS (
          -- one md5 per row; B indices per row via Carter-Wegman combo
          SELECT e.event_type, n.n, e.idx AS i,
                 CAST('0x' || substring(md5(e.event_type || '#' || CAST(e.idx AS VARCHAR)), 1, 15) AS BIGINT) AS h1,
                 CAST('0x' || substring(md5(e.event_type || '#' || CAST(e.idx AS VARCHAR)), 17, 14) AS BIGINT) AS h2
          FROM ev e
          JOIN n USING (event_type)),
        draws AS (
          SELECT event_type, b.b, n, i,
                 ((h1 + b.b * h2) % 2305843009213693951) % n AS j
          FROM hashed
          CROSS JOIN generate_series(0, 31) b(b)),
        means AS (
          SELECT d.event_type, d.b,
                 CAST(SUM(e.y) AS DOUBLE) / CAST(MIN(d.n) AS DOUBLE) AS mean_b
          FROM draws d JOIN ev e ON e.event_type = d.event_type AND e.idx = d.j
          GROUP BY 1, 2),
        ranked AS (
          SELECT event_type, mean_b,
                 row_number() OVER (PARTITION BY event_type ORDER BY mean_b, b) AS rq
          FROM means)
        SELECT event_type,
               MIN(CASE WHEN rq = 1 THEN mean_b END) AS ci_lo,
               MIN(CASE WHEN rq = 31 THEN mean_b END) AS ci_hi
        FROM ranked
        WHERE rq IN (1, 31)
        GROUP BY event_type
        ORDER BY event_type"""),
      doc = "deterministic bootstrap CI of the mean: md5-indexed B=32 resample grid, exact decimal replicate means, discrete-quantile interval (statistics audit)")
  )
}
