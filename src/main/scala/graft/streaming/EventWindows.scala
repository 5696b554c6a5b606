package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** SURVEY.md §2.J: the engine's streaming surface over the `events`
  * schema — an extension beyond reference parity (the reference is
  * batch-only; `frameId` is its logical event-time). Exercises the same
  * group-then-aggregate shapes as §2.D via Structured Streaming:
  * watermarked tumbling/sliding windows and stateful sessionization with
  * `flatMapGroupsWithState`.
  *
  * Scale posture: state is keyed by user/window — shards across
  * executors; the watermark bounds state size (late data beyond 10 min
  * is dropped), which is what makes this viable on an unbounded 100 TB
  * stream.
  */
object EventWindows {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)

  /** Session accumulator; all times are epoch MICROseconds (the events
    * table is ns-precision truncated to µs — ms would silently coarsen).
    */
  final case class SessionState(count: Long, start: Long, last: Long)

  final case class SessionOut(user_id: Long, session_start_us: Long,
                              n_events: Long, span_us: Long)

  /** Epoch µs of a Timestamp (getTime is ms-truncated; go via Instant). */
  private def micros(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  // ---- transformWithState (Spark 4's arbitrary-state API) -------------

  final case class RunState(n: Long, mx: Double)

  final case class RunningOut(user_id: Long, event_id: Long,
                              run_n: Long, run_max: Double)

  /** Per-user running event count + running max enrichment on the NEW
    * `StatefulProcessor` API (the Spark-4 successor to
    * flatMapGroupsWithState: named state variables, per-state TTL,
    * timers; requires the RocksDB state store provider). Emits one row
    * PER INPUT EVENT carrying the state so far — the stateful-map shape
    * (fraud-score accumulation, per-entity enrichment) that the
    * aggregate-shaped operators can't express. Batch-internal order is
    * pinned by the (µs, event_id) sort, same as sessionize; count and
    * max are selection/increment ops, so results are bit-exact against
    * a batch window oracle (no float accumulation). TTLConfig.NONE here
    * because the gate replay is finite; a 24/7 run sets a TTL so idle
    * keys age out of RocksDB.
    */
  class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, RunningOut] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState, TimeMode}
    import org.apache.spark.sql.{Encoders, streaming}

    @transient private var st: ValueState[RunState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[RunState]("run", Encoders.product[RunState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Event],
                                 tv: TimerValues): Iterator[RunningOut] = {
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      var cur = if (st.exists()) st.get() else RunState(0L, Double.NegativeInfinity)
      val out = sorted.map { e =>
        cur = RunState(cur.n + 1, math.max(cur.mx, e.value))
        RunningOut(user, e.event_id, cur.n, cur.mx)
      }
      st.update(cur)
      out.iterator
    }
  }

  /** q173's operator: the processor above over a keyed event stream. */
  def runningTotals(events: Dataset[Event])(implicit spark: SparkSession): Dataset[RunningOut] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Tumbling 1-minute event-time counts with a 10-minute watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding 5-minute windows every minute. Output-mode contract:
    *
    *  - **Append** is the PRODUCTION path for 24/7 ingest: each
    *    (window, user) row is emitted exactly once, when the watermark
    *    passes the window end, and its state-store rows are evicted at
    *    that same moment — so state is bounded by the watermark horizon
    *    (≤ (10 min + 5 min) / 1 min in-flight windows per active key)
    *    regardless of stream length. EventWindowsSpec pins the eviction
    *    via state-operator metrics (rows removed, bounded total).
    *  - **Complete** (the q80 oracle harness) retains every window ever
    *    created and re-emits the full result each batch: exact and
    *    replay-friendly for a FINITE file replay, unbounded for a
    *    production stream. The gate keeps it because window
    *    finalization then never depends on a trailing no-data batch
    *    advancing the watermark.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("user_id"), col("n_events"))

  /** GLOBAL (unkeyed) sliding windows — q217's shape, the incremental
    * form of q84's trailing window: 10-minute windows sliding every 2
    * minutes, so each event lands in exactly 5 windows. Unkeyed means a
    * single grouping key per window — safe because per-window state is
    * ONE partial aggregate (count + cents sum), not a row set, and the
    * 10-minute watermark bounds the set of open windows. Same Append vs
    * Complete contract as slidingCounts: Append is the production path
    * (each window emits once when the watermark passes its end, state
    * evicted at that moment — EventWindowsSpec pins the eviction via
    * state-operator metrics); Complete is the finite-replay oracle
    * harness q217 runs through the gate.
    */
  def globalSliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "2 minutes"))
      .agg(count(lit(1)).as("n_events"),
        graft.expr.ExactSums.sumOf(2, graft.expr.ExactSums.cents(col("value"), 2)).as("sum_value"))
      .select(col("window.start").as("window_start"), col("n_events"), col("sum_value"))

  /** Stream-static enrichment: join the event stream against a static
    * dimension (broadcast per micro-batch — the streaming analog of the
    * reference's plays⋈games dim joins, C1). No state, no watermark
    * needed: static side is re-resolved each batch.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: attribute each purchase to the same
    * user's clicks in the preceding 30 minutes. Both sides watermarked
    * so the join state is bounded — the hardest streaming shape the
    * engine exposes (event-time range condition + state cleanup).
    */
  def clickToPurchase(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    clicks.join(purchases, expr(
      """user_id = p_user AND
         purchase_ts >= click_ts AND
         purchase_ts <= click_ts + INTERVAL 30 MINUTES"""))
      .select("user_id", "click_id", "purchase_id", "purchase_value")
  }

  /** Stream-stream LEFT OUTER interval join: every click, joined to
    * same-user purchases in the following 30 minutes, or emitted with
    * NULL purchase columns once the watermark PROVES no match can still
    * arrive — the outer variant of [[clickToPurchase]], and the shape
    * where the watermark is not just state cleanup but the emission
    * trigger itself: an unmatched click may only be released after
    * event time passes click_ts + 30min + the watermark delay.
    */
  def clickToPurchaseOuter(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    clicks.join(purchases, expr(
      """user_id = p_user AND
         purchase_ts >= click_ts AND
         purchase_ts <= click_ts + INTERVAL 30 MINUTES"""), "leftOuter")
      .select("user_id", "click_id", "purchase_id", "purchase_value")
  }

  /** Streaming exact-dedup (the streaming form of the batch q33
    * north-star op): drop repeated payload fingerprints, with the
    * watermark bounding the dedup state to 10 minutes of keys — the
    * property that keeps state finite on an unbounded stream.
    */
  def dedupStream(events: DataFrame,
                  keyCols: Seq[String] = Seq("user_id", "event_type", "value")): DataFrame =
    events
      .withColumn("fp", md5(concat_ws("#", keyCols.map(col): _*)))
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("fp", "ts")

  /** Stateful sessionization: 30-min inactivity gap per user via
    * `flatMapGroupsWithState` (the streaming analog of q21's batch
    * lag+sum — same session semantics).
    */
  def sessionize(events: Dataset[Event])(implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.start, s.count, s.last - s.start))
          } else {
            // (µs, event_id) sort pins batch-internal order — identical
            // to the batch formulation's lag() ORDER BY (q21/q74 oracle)
            val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var emitted = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapUs =>
                  cur = Some(s.copy(count = s.count + 1, last = t))
                case Some(s) =>
                  emitted ::= SessionOut(userId, s.start, s.count, s.last - s.start)
                  cur = Some(SessionState(1, t, t))
                case None =>
                  cur = Some(SessionState(1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // GroupState timeouts are ms-granular: round the µs
              // deadline UP so a timeout never fires early
              state.setTimeoutTimestamp(s.last / 1000L + gapUs / 1000L + 1L)
            }
            emitted.reverseIterator
          }
      }
  }
}
