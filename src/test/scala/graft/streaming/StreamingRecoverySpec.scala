package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.TempPaths

/** Checkpoint-recovery pins — the restart path a 24/7 ingest actually
  * exercises, which no single processAllAvailable run covers: a stream
  * stopped and restarted against the SAME checkpoint must neither
  * re-emit data it already committed (the file-source log + sink
  * commit log give exactly-once) nor lose aggregation state built
  * before the stop (watermark + window state reload from the state
  * store). Both restarts here are cold: a fresh query object against
  * the surviving checkpoint directory, exactly what a crashed executor
  * fleet or a deploy does in production.
  */
class StreamingRecoverySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(minute: Int, sec: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  test("stateless file-source stream restarts exactly-once from its checkpoint") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-recovery-stateless")
    try {
      val in = base.resolve("in"); Files.createDirectories(in)
      val out = base.resolve("out"); val ck = base.resolve("ck")
      def writeBatch(ids: Range): Unit =
        ids.map(i => (i.toLong, s"payload-$i")).toDF("event_id", "payload")
          .coalesce(1).write.mode("append").parquet(in.toString)
      writeBatch(1 to 3)
      val schema = spark.read.parquet(in.toString).schema
      def run(): Unit = {
        val q = spark.readStream.schema(schema).parquet(in.toString)
          .writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ck.toString)
          .outputMode(OutputMode.Append).start()
        try q.processAllAvailable() finally q.stop()
      }
      run()                 // processes file 1, commits it to the source log
      writeBatch(4 to 6)
      run()                 // cold restart: must pick up ONLY the new file
      val got = spark.read.parquet(out.toString)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      // each id exactly once: a lost file shows as a gap, a replayed
      // file as a duplicate — both fail this exact-sequence compare
      assert(got === (1L to 6L))
    } finally TempPaths.delete(base.toFile)
  }

  test("the RocksDB state store runs the stateful shapes with identical results (production backend)") {
    // The default HDFSBackedStateStore keeps every key in executor
    // heap — fine locally, the thing that OOMs first at 100 TB state.
    // RocksDB (spilling, incremental-checkpoint) is the production
    // provider; this pins that our stateful shapes produce identical
    // results under it, so flipping the conf in a deployment is safe.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val default = spark.conf.get(key,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    def runOnce(name: String): Set[(Timestamp, String, Long)] = {
      val input = MemoryStream[EventWindows.Event]
      input.addData(
        EventWindows.Event(1, ts(0, 10), 1, "click", 1.0),
        EventWindows.Event(2, ts(0, 40), 1, "click", 2.0),
        EventWindows.Event(3, ts(1, 5), 2, "view", 3.0),
        EventWindows.Event(4, ts(1, 30), 2, "view", 1.0))
      val q = EventWindows.tumblingCounts(input.toDF())
        .writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    }
    val onHeap = runOnce("ss_default_out")
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val onRocks = runOnce("ss_rocksdb_out")
      assert(onRocks === onHeap, "RocksDB and default providers disagree")
      assert(onRocks === Set(
        (ts(0), "click", 2L),
        (ts(1), "view", 2L)))
    } finally spark.conf.set(key, default)
  }

  test("windowed aggregation state survives a restart (watermark + counts from the store)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-recovery-stateful")
    try {
      val in = base.resolve("in"); Files.createDirectories(in)
      val out = base.resolve("out"); val ck = base.resolve("ck")
      def writeEvents(rows: Seq[(Long, Timestamp)]): Unit =
        rows.toDF("event_id", "ts").coalesce(1).write.mode("append").parquet(in.toString)
      // run 1: three events in the 10:00 tumbling minute — state only,
      // nothing finalized (watermark still below the window end at stop)
      writeEvents(Seq(
        (1L, Timestamp.valueOf("2024-01-01 10:00:05")),
        (2L, Timestamp.valueOf("2024-01-01 10:00:25")),
        (3L, Timestamp.valueOf("2024-01-01 10:00:45"))))
      val schema = spark.read.parquet(in.toString).schema
      def run(): Unit = {
        val windowed = spark.readStream.schema(schema).parquet(in.toString)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 minute"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_micros(col("window.start")).as("window_start_us"), col("n_events"))
        val q = windowed.writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ck.toString)
          .outputMode(OutputMode.Append).start()
        try q.processAllAvailable() finally q.stop()
      }
      run()
      // run 2, cold restart: one late-hour event pushes the watermark past
      // the 10:00 window end. The count=3 it finalizes exists ONLY in the
      // recovered state store — losing state on restart would emit 0 or
      // a partial count here.
      writeEvents(Seq((4L, Timestamp.valueOf("2024-01-01 11:00:00"))))
      run()
      val rows = spark.read.parquet(out.toString)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val w1000 = java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli * 1000L
      assert(rows.get(w1000) === Some(3L),
        s"10:00 window must finalize with the 3 pre-restart events, got $rows")
    } finally TempPaths.delete(base.toFile)
  }
}
