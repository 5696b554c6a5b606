package graft.streaming

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.{SparkEntry, TestSpark}
import graft.queries.TempPaths

/** The gate runner's contract beyond what the oracle sees: the session
  * confs it scopes come back exactly as found (set or unset, also when
  * the query fails), the state-store provider is derived from the plan,
  * the state-partition count follows the staged input size, and the
  * sentinel-flush gates handle an empty events table.
  */
class GateRunSpec extends AnyFunSuite with Eventually {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private val scoped = Seq(
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.checkpointLocation",
    "spark.sql.streaming.stateStore.providerClass")

  private def explicitConfs(): Map[String, Option[String]] = {
    val set = spark.conf.getAll
    scoped.map(k => k -> set.get(k)).toMap
  }

  /** Run `body` with each scoped key set to `values(k)` or unset (None),
    * then put the session back as it was.
    */
  private def withScopedConfs(values: Map[String, Option[String]])(body: => Unit): Unit = {
    val before = explicitConfs()
    def apply(m: Map[String, Option[String]]): Unit = m.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    apply(values)
    try body finally apply(before)
  }

  /** A gate whose plan fails inside its first micro-batch (user ids are
    * never negative).
    */
  private def failingGate(): Unit = {
    val boom = udf { (u: Long) => require(u < 0, "boom"); u }
    intercept[Exception] {
      GateRun.replay(spark, sf, "gaterun_spec_fails", OutputMode.Append) { stream =>
        stream.select(boom(col("user_id")).as("u"))
      }
    }
  }

  private def gatesLeaveConfsAsFound(values: Map[String, Option[String]]): Unit =
    withScopedConfs(values) {
      val before = explicitConfs()
      assert(before === values)
      for (q <- Seq("q81_stream_dedup", "q173_stream_transform_state", "q125_stream_merge_sink")) {
        assert(SparkEntry.queries(q)(spark, sf).count() > 0)
        assert(explicitConfs() === before, s"$q changed the session confs")
      }
      failingGate()
      assert(explicitConfs() === before, "a failed gate changed the session confs")
      assert(spark.streams.active.isEmpty, "a failed gate left its query running")
    }

  test("gates restore every scoped conf that was set, also after a failure") {
    gatesLeaveConfsAsFound(Map(
      "spark.sql.shuffle.partitions" -> Some("3"),
      "spark.sql.streaming.noDataMicroBatches.enabled" -> Some("true"),
      "spark.sql.streaming.checkpointLocation" ->
        Some(TempPaths.dir(spark, "gaterun_spec_ckpt").getAbsolutePath),
      "spark.sql.streaming.stateStore.providerClass" ->
        Some("org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")))
  }

  test("gates leave every scoped conf unset that was unset, also after a failure") {
    gatesLeaveConfsAsFound(scoped.map(_ -> None).toMap)
  }

  test("the RocksDB store is picked for transformWithState (q173) and not for q81") {
    val metrics = mutable.Map.empty[String, Set[String]]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        metrics.synchronized {
          val names = e.progress.stateOperators.flatMap(_.customMetrics.keySet().toArray)
            .map(_.toString).toSet
          metrics(e.progress.name) = metrics.getOrElse(e.progress.name, Set.empty) ++ names
        }
    }
    spark.streams.addListener(listener)
    try {
      for (q <- Seq("q173_stream_transform_state", "q81_stream_dedup"))
        SparkEntry.queries(q)(spark, sf).count()
      def rocks(q: String) = metrics.synchronized(metrics.getOrElse(q, Set.empty))
        .exists(_.startsWith("rocksdb"))
      eventually(timeout(30.seconds)) {
        assert(metrics.synchronized(metrics.keySet.toSet) ===
          Set("q173_stream_transform_state", "q81_stream_dedup"))
        assert(metrics.synchronized(metrics.values.forall(_.nonEmpty)))
      }
      assert(rocks("q173_stream_transform_state"), metrics)
      assert(!rocks("q81_stream_dedup"), metrics)
    } finally spark.streams.removeListener(listener)
  }

  test("scaledParts: 4 at 2 MB, 6 at 100 MB, 32 at 1 GB staged") {
    val dir = Files.createTempDirectory("gaterun_spec_parts").toFile
    def staged(bytes: Long): File = {
      Option(dir.listFiles()).foreach(_.foreach(TempPaths.delete))
      // sparse file: the size is what counts, no bytes are written
      val f = new RandomAccessFile(new File(dir, "events.parquet"), "rw")
      try f.setLength(bytes) finally f.close()
      dir
    }
    try {
      assert(GateRun.scaledParts(staged(2L << 20)) === 4)
      assert(GateRun.scaledParts(staged(100L << 20)) === 6)
      assert(GateRun.scaledParts(staged(1L << 30)) === 32)
    } finally TempPaths.delete(dir)
  }

  test("q74 and q123 return 0 rows on an empty events table") {
    val d = Files.createTempDirectory("gaterun_spec_empty").toFile
    try {
      spark.read.parquet(s"$sf/events.parquet").limit(0)
        .write.parquet(new File(d, "events.parquet").getAbsolutePath)
      for (q <- Seq("q74_stream_sessions", "q123_stream_outer_join"))
        assert(SparkEntry.queries(q)(spark, d.getAbsolutePath).count() === 0L, q)
    } finally TempPaths.delete(d)
  }
}
