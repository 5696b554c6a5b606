package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.Tables
import graft.queries.TempPaths

/** The one run-to-completion harness for the streaming gate queries: a
  * bounded replay of the `events` table through a real Structured
  * Streaming query, read back from a memory sink.
  *
  * [[replay]] is the only place in the program that stages the events
  * file, opens the file-source stream and starts a memory sink; a gate
  * supplies only its plan, output mode and (for watermark-released
  * output) its flush rows. [[withStreamGateConfs]] runs q125's
  * foreachBatch sink under the same conf scope. Both drive the query to
  * completion with `processAllAvailable` and stop it in a `finally`,
  * here and nowhere else. The scope's two levers against the per-query
  * scheduler floor
  * (measured round 9: ~11 s across the nine streaming gate queries at ANY
  * SF — pure micro-batch overhead, not data):
  *
  *  - state partitions from [[scaledParts]]: the count is captured from
  *    shuffle.partitions at query START and every partition pays a
  *    per-batch state-store commit;
  *  - no-data micro-batches DISABLED for the body's lifetime: every
  *    gate query emits inside data batches (sentinel flushes — q74/
  *    q123, match-time emission — q78/q81/q153/q173, or Complete mode —
  *    q60/q80/q109/q186/q217), so the trailing watermark-advance batch
  *    only adds a full re-plan + per-partition state commit per query. A
  *    query whose OUTPUT depends on a trailing no-data batch (e.g. an
  *    append-mode windowed aggregate flushed by watermark alone, with no
  *    flush rows) must NOT use this scope — emission would silently wait
  *    for data that never comes.
  *
  * The confs stay set for the query's LIFETIME, not just its start:
  * noDataMicroBatches is read at every trigger decision. Each is restored
  * on exit exactly as found — a key that was unset is unset again.
  */
object GateRun {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Replay the sf dir's `events` table as a file-source stream through
    * `plan` into a memory sink named `name`, run it to completion, and
    * return the sink's table.
    *
    * Contract:
    *  - events are staged into a session dir that is emptied first
    *    (`TempPaths.stageFile`), so a second invocation in one session
    *    replays exactly the same files;
    *  - the stream reads the staged dir's `*.parquet` glob with the
    *    table's own schema, `ts` normalized by `Tables.tsAsTimestamp`;
    *  - `flushes(0)` is written into the staged dir before the query
    *    starts, so it rides in the data batch; after each
    *    `processAllAvailable` the next flush is written and processed in
    *    one more real batch. This is how watermark-released output (q74's
    *    session close, q123's unmatched clicks) emits without a no-data
    *    batch: far-future sentinel rows advance the watermark, and the
    *    gate filters them from its result. With no flushes the query runs
    *    one `processAllAvailable`;
    *  - the query runs under the gate conf scope, plus the RocksDB
    *    state-store provider when the plan holds a `TransformWithState`
    *    node (q173). That API refuses HDFS-backed stores, and every other
    *    gate's timing was measured on the default provider, so the choice
    *    is read off the plan rather than left to each caller;
    *  - the query is stopped in a `finally`, also when it fails.
    */
  def replay(s: SparkSession, sfDir: String, name: String, mode: OutputMode,
             flushes: Seq[DataFrame] = Nil)(plan: DataFrame => DataFrame): DataFrame = {
    val staged = TempPaths.stageFile(s, name, s"$sfDir/events.parquet", "events.parquet")
    def flush(i: Int): Unit =
      flushes(i).write.parquet(new java.io.File(staged, s"flush$i.parquet").getPath)
    if (flushes.nonEmpty) flush(0)
    val schema = Tables.load(s, sfDir, "events").schema
    val out = plan(Tables.tsAsTimestamp(
      s.readStream.schema(schema).parquet(s"$staged/*.parquet")))
    val provider =
      if (out.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState]))
        Seq(ProviderKey -> RocksDb)
      else Nil
    scope(s, staged) {
      withConfs(s, provider) {
        drain(out.writeStream.outputMode(mode).format("memory").queryName(name).start(),
          flushes.indices.drop(1).map(i => () => flush(i)))
      }
    }
    s.table(name)
  }

  /** Run the query `start` returns to completion under the gate conf
    * scope — q125's foreachBatch sink, which writes its own output.
    */
  def withStreamGateConfs(s: SparkSession, staged: java.io.File)(start: => StreamingQuery): Unit =
    scope(s, staged)(drain(start))

  /** Process everything available; then, for each flush, write it and
    * process again. The query is stopped also when a batch fails.
    */
  private def drain(q: StreamingQuery, flushes: Seq[() => Unit] = Nil): Unit =
    try {
      q.processAllAvailable()
      flushes.foreach { f => f(); q.processAllAvailable() }
    } finally q.stop()

  /** The gate conf scope around `body`: [[scaledParts]]`(staged)` shuffle
    * partitions, no-data micro-batches off, and a fresh throwaway
    * checkpoint dir, all restored (and the dir deleted) on exit.
    *
    * The checkpoint (offset WAL + state deltas) goes on tmpfs when
    * available: these writes are rename-committed and fsync'd, and each
    * batch would pay several forced disk syncs for a checkpoint that is
    * deliberately throwaway. A FRESH dir per run: a base + queryName
    * checkpoint surviving into a second invocation would make the
    * restarted query replay nothing into an empty memory sink.
    * Production runs set a durable checkpointLocation explicitly and
    * never pass through this scope.
    */
  private def scope[T](s: SparkSession, staged: java.io.File)(body: => T): T = {
    val shm = new java.io.File("/dev/shm")
    val ckpt = new java.io.File(
      if (shm.isDirectory && shm.canWrite) shm else new java.io.File(sys.props("java.io.tmpdir")),
      s"graft_gate_ckpt_${java.util.UUID.randomUUID().toString.take(8)}")
    ckpt.mkdirs()
    try withConfs(s, Seq(
      "spark.sql.shuffle.partitions" -> scaledParts(staged).toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      "spark.sql.streaming.checkpointLocation" -> ckpt.getAbsolutePath))(body)
    finally TempPaths.delete(ckpt)
  }

  /** Set `confs` for `body`, then restore each key as found: its old
    * value if it was set, unset if it was not.
    */
  private def withConfs[T](s: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val set = s.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Scale-adaptive state-partition count for the bounded-replay gates,
    * derived from input size rather than a constant tuned for one scale:
    * one state partition per 16 MB of staged replay input, at least
    * [[MinParts]], at most [[MaxParts]].
    *
    *  - 4 = the sf0.1-measured optimum (two full paired A/Bs, rounds 16
    *    and 17, over all 12 gates: every gate at-or-better at 4 vs 8 —
    *    gate state is tiny there and each partition pays a per-batch
    *    state-store commit; 2 starts to lose parallelism on the
    *    join-heavy gates). At sf0.1 (2 MB staged) the formula yields
    *    exactly 4;
    *  - growth with input is a CLUSTER-correctness bound, not a local
    *    speedup claim: the single-batch replay holds the whole corpus's
    *    state (q81's dedup keys, q80's Complete windows), and state
    *    partitions are the unit that spreads that state across executors
    *    — a constant 4 pins per-executor state to state/4 at any scale.
    *    The round-17 sf10 revalidation measured the failure concretely
    *    (q81 at 4 parts OOMs the default 8 GB local heap; with
    *    SPARK_DRIVER_MEM=48g it completes) but could NOT rank 4 vs 8 vs 9
    *    parts on wall time — four sf10 readings spanned 68-129 s with no
    *    consistent ordering. In local mode all partitions share one heap,
    *    so the OOM fix is the heap, not the partition count; on a cluster
    *    the partition count IS the per-executor bound, which is why it
    *    must scale;
    *  - 32: past one partition per core the commits dominate again
    *    (measured round 2).
    *
    * Production unbounded streams size state partitions to their key
    * cardinality instead.
    */
  private[streaming] def scaledParts(staged: java.io.File): Int = {
    def bytes(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
      else f.length()
    math.max(MinParts, math.min(MaxParts, (bytes(staged) >> 24).toInt))
  }

  private val MinParts = 4
  private val MaxParts = 32
}
