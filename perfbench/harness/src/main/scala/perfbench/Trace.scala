package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the listeners saw while one query ran. Counters are filled
  * on the listener-bus threads and read by the harness thread only after
  * [[Tracer.drain]] has returned.
  */
final class Bucket {
  var jobs, buildJobs, stages, tasks = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  var deserMs, runMs, cpuNs, gcMs = 0L
  var rowsRead, scanMs = 0L
  var shuffleWrite, shuffleRead, shuffleRecords, fetchWaitMs = 0L
  var spillBytes, peakExecMem = 0L
  var writeBytes, writeRows = 0L
  val stageShuffleRead = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var cachedPeak = 0L
  var batches, triggerMs, addBatchMs, planningMs, walMs, stateCommitMs = 0L
  var stateRows, stateBytes = 0L
  val eagerQes = mutable.ArrayBuffer.empty[QueryExecution]
}

/** Spark listeners for the traced passes, attached from outside the
  * program through the public listener APIs: a [[SparkListener]] for
  * jobs, stages, tasks and cached blocks, a [[QueryExecutionListener]]
  * for the eager actions a query runs while it is built, and a
  * [[StreamingQueryListener]] for micro-batch progress.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val MarkerKey = "perfbench.marker"

  @volatile private var bucket = new Bucket
  @volatile private var markerDone: CountDownLatch = new CountDownLatch(0)
  private val markerStages = mutable.Set.empty[Int]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private val streamsStarted = mutable.Set.empty[java.util.UUID]
  private val streamsEnded = mutable.Set.empty[java.util.UUID]

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val marker = Option(e.properties).exists(_.getProperty(MarkerKey) != null)
      if (marker) markerStages ++= e.stageIds
      else {
        bucket.jobs += 1
        if (Option(e.properties).exists(_.getProperty(Tracer.PhaseKey) == "build")) bucket.buildJobs += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      if (markerStages.contains(id)) {
        if (e.stageInfo.failureReason.isEmpty) markerDone.countDown()
      } else bucket.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      if (!markerStages.contains(e.stageId)) {
        val b = bucket
        b.tasks += 1
        b.taskMs += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          b.deserMs += m.executorDeserializeTime
          b.runMs += m.executorRunTime
          b.cpuNs += m.executorCpuTime
          b.gcMs += m.jvmGCTime
          b.rowsRead += m.inputMetrics.recordsRead
          b.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          b.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
          val read = m.shuffleReadMetrics.totalBytesRead
          b.shuffleRead += read
          if (read > 0)
            b.stageShuffleRead.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += read
          b.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          b.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          b.peakExecMem = math.max(b.peakExecMem, m.peakExecutionMemory)
          b.writeBytes += m.outputMetrics.bytesWritten
          b.writeRows += m.outputMetrics.recordsWritten
        }
        e.taskInfo.accumulables.foreach { a =>
          if (a.name.contains("scan time"))
            a.update.foreach(v => b.scanMs += v.toString.toLong)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        cachedNow -= blocks.getOrElse(key, 0L)
        val size = info.memSize + info.diskSize
        if (info.storageLevel.isValid && size > 0) blocks(key) = size else blocks.remove(key)
        cachedNow += blocks.getOrElse(key, 0L)
        bucket.cachedPeak = math.max(bucket.cachedPeak, cachedNow)
      }
    }
  }

  private val actions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized(bucket.eagerQes += qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized(streamsStarted += e.runId)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val b = bucket
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        b.batches += 1
        b.triggerMs += d("triggerExecution")
        b.addBatchMs += d("addBatch")
        b.planningMs += d("queryPlanning")
        b.walMs += d("walCommit") + d("commitOffsets")
        b.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        b.stateRows = math.max(b.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        b.stateBytes = math.max(b.stateBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized(streamsEnded += e.runId)
  }

  def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(actions)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(actions)
    spark.streams.removeListener(streams)
  }

  /** Starts a fresh bucket; call only after [[drain]]. */
  def begin(): Unit = synchronized {
    bucket = new Bucket
    bucket.cachedPeak = cachedNow
  }

  /** Waits until every event posted so far has reached the listeners.
    * A one-task marker job rides the same listener queue as the query's
    * events, so its stage completing means the queue has passed them;
    * a stream's terminated event is the last one it posts.
    */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    markerDone = latch
    sc.setLocalProperty(MarkerKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    latch.await(60, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (synchronized(!streamsStarted.subsetOf(streamsEnded)) && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Drains, then returns the finished bucket. */
  def end(): Bucket = { drain(); synchronized(bucket) }
}

object Tracer {
  /** Local property naming the phase of the query in flight: "build"
    * while the query function runs, "run" during the forcing action.
    * Threads a query starts (stream executions) inherit it.
    */
  val PhaseKey = "perfbench.phase"

  /** Every node of an executed plan, looking through adaptive plans,
    * query stages and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** Per-layer numbers of one finished query. `qes` are the final frame's
    * execution plus the eager actions its build ran.
    */
  def layers(b: Bucket, qes: Seq[QueryExecution], buildMs: Double, wallMs: Double,
             cores: Int): Map[String, Double] = {
    val phases = qes.flatMap(_.tracker.phases.toSeq)
    def phase(n: String): Double = phases.collect { case (`n`, s) => s.durationMs.toDouble }.sum
    val graftRuleMs = qes.flatMap(_.tracker.rules.toSeq)
      .collect { case (rule, s) if rule.startsWith("graft.") => s.totalTimeNs / 1e6 }.sum
    val plan = qes.flatMap(qe => nodes(qe.executedPlan))
    val scans = plan.collect { case s: FileSourceScanLike => s }
    val skew = b.stageShuffleRead.values.filter(_.size > 1).map { reads =>
      val sorted = reads.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med > 0) sorted.last / med else 0.0
    }.foldLeft(0.0)(math.max)
    val mb = 1024.0 * 1024.0
    val trigger = b.triggerMs.toDouble
    Map(
      "queries.build_ms" -> buildMs,
      "queries.build_jobs" -> b.buildJobs.toDouble,
      "plans.analysis_ms" -> phase("analysis"),
      "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"),
      "plans.graft_rule_ms" -> graftRuleMs,
      "plans.exchanges" -> plan.count(_.isInstanceOf[Exchange]).toDouble,
      "scheduler.jobs" -> b.jobs.toDouble,
      "scheduler.stages" -> b.stages.toDouble,
      "scheduler.tasks" -> b.tasks.toDouble,
      "scheduler.deser_ms" -> b.deserMs.toDouble,
      "scheduler.run_ms" -> b.runMs.toDouble,
      "scheduler.busy_frac" -> b.runMs / (wallMs * cores),
      // file sizes from the scan nodes: task input bytes miss the reads
      // parquet issues from its own vectored-IO threads
      "Tables.bytes_read" -> scans.map(metric(_, "filesSize")).sum.toDouble,
      "Tables.rows_read" -> b.rowsRead.toDouble,
      "Tables.files_read" -> scans.map(metric(_, "numFiles")).sum.toDouble,
      "Tables.scan_ms" -> b.scanMs.toDouble,
      "ops.shuffle_write_bytes" -> b.shuffleWrite.toDouble,
      "ops.shuffle_read_bytes" -> b.shuffleRead.toDouble,
      "ops.shuffle_records" -> b.shuffleRecords.toDouble,
      "ops.fetch_wait_ms" -> b.fetchWaitMs.toDouble,
      "ops.shuffle_skew" -> skew,
      "ops.cpu_ms" -> b.cpuNs / 1e6,
      "ops.gc_ms" -> b.gcMs.toDouble,
      "ops.spill_bytes" -> b.spillBytes.toDouble,
      "ops.peak_exec_mem_mb" -> b.peakExecMem / mb,
      "CacheScope.cached_mb" -> b.cachedPeak / mb,
      "streaming.batches" -> b.batches.toDouble,
      "streaming.trigger_ms" -> trigger,
      "streaming.add_batch_ms" -> b.addBatchMs.toDouble,
      "streaming.query_planning_ms" -> b.planningMs.toDouble,
      "streaming.wal_commit_ms" -> b.walMs.toDouble,
      "streaming.state_rows" -> b.stateRows.toDouble,
      "streaming.state_mb" -> b.stateBytes / mb,
      "streaming.state_commit_ms" -> b.stateCommitMs.toDouble,
      "streaming.lifecycle_ms" -> (if (b.batches > 0) wallMs - trigger else 0.0),
      "write.bytes" -> b.writeBytes.toDouble,
      "write.rows" -> b.writeRows.toDouble,
      "write.files" -> plan.collect { case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum.toDouble)
  }
}
