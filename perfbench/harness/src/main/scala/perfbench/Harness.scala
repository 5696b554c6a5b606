package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}
import graft.ops.ScaleGuards.ScaleGuardTrip
import graft.queries.CapstoneQueries

/** One benchmark run in one JVM, driven by `perfbench/run.py`:
  *
  *  1. set-up, three times: build the session, warm it up, stage
  *     the capstone fixtures (all but the last session are stopped);
  *  2. an untimed verify pass that writes each query's output the way
  *     `graft.Verify` does, for the oracle compare;
  *  3. timed passes over the queries in the given order, one query at a
  *     time, each built with `SparkEntry.queries(name)(spark, dir)` and
  *     forced with `queryExecution.toRdd.count()`, until `--seconds`
  *     have passed and at least two whole passes are done. With
  *     `--trace 1` some passes are traced; only those carry listeners.
  *
  * Raw samples go to `--out` as JSON; run.py does the arithmetic.
  */
object Harness {
  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 3
  /** Timed passes are whole and at least this many, so every query has
    * the same number of samples, from the same positions, in every run.
    */
  private val MinPasses = 2

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private val Mb = 1024.0 * 1024.0

  private def describe(e: Throwable): String = e match {
    case g: ScaleGuardTrip => s"guard trip: ${g.getMessage}"
    case _ => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
  }

  def main(args: Array[String]): Unit = {
    val data = arg(args, "data")
    val names = arg(args, "queries").split(',').toSeq
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val dump = arg(args, "dump")
    val out = arg(args, "out")
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val json = new ObjectMapper().registerModule(DefaultScalaModule)

    // 1. set-up, repeated so its median is steady
    val setupRecs = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val s = GraftSession.create(s"local[$cores]", cores)
      val createMs = ms(t0)
      val t1 = System.nanoTime()
      Tables.names.foreach(n => Tables.load(s, data, n).count())
      SparkEntry.queries("q05_anchor_window")(s, data).count()
      val warmupMs = ms(t1)
      val t2 = System.nanoTime()
      CapstoneQueries.stageFixtures(s, data)
      val stageMs = ms(t2)
      if (i < Setups) s.stop()
      Map("create_ms" -> createMs, "warmup_ms" -> warmupMs, "stage_fixtures_ms" -> stageMs)
    }
    val spark = SparkSession.active
    val sc = spark.sparkContext

    def settle(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }

    // 2. untimed verify pass, through graft.Verify's write path. After
    // each query a full GC measures the heap it still holds (its caches
    // are dropped only afterwards).
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    val verify = names.map { n =>
      val t0 = System.nanoTime()
      val err =
        try {
          fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
          None
        } catch { case e: Throwable => Some(describe(e)) }
      val elapsed = ms(t0)
      System.gc()
      val liveMb = heapPools.map(_.getUsage.getUsed).sum / Mb
      settle()
      n -> Map("ms" -> elapsed, "error" -> err.orNull, "heap_live_mb" -> liveMb)
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => fns.contains(n) }
    json.writeValue(new java.io.File(s"$dump/oracle_sql.json"), oracle)

    // 3. timed passes
    val tracer = new Tracer(spark)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    // More whole passes run while time is left. A traced run starts with
    // an unrecorded warm-up pass, then orders its passes untraced, traced,
    // traced, untraced, so warm-up drift does not bias the traced-vs-
    // untraced comparison.
    val warmup = if (traced) 1 else 0
    val minPasses = if (traced) warmup + 4 else MinPasses
    val start = System.nanoTime()
    var pass = 0
    while (pass < minPasses || ms(start) < seconds * 1000) {
      val tracePass = traced && pass >= warmup && Set(1, 2).contains((pass - warmup) % 4)
      if (tracePass) tracer.attach()
      names.foreach { n =>
        heapPools.foreach(_.resetPeakUsage())
        if (tracePass) {
          tracer.begin()
          sc.setLocalProperty(Tracer.PhaseKey, "build")
        }
        var df: DataFrame = null
        var rows = -1L
        var buildMs = 0.0
        val t0 = System.nanoTime()
        val err =
          try {
            df = fns(n)(spark, data)
            buildMs = ms(t0)
            if (tracePass) sc.setLocalProperty(Tracer.PhaseKey, "run")
            rows = df.queryExecution.toRdd.count()
            None
          } catch { case e: Throwable => Some(describe(e)) }
        val wallMs = ms(t0)
        val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / Mb
        val layers =
          if (!tracePass) Map.empty[String, Any]
          else {
            sc.setLocalProperty(Tracer.PhaseKey, null)
            val b = tracer.end()
            val qes = b.eagerQes.toSeq ++ Option(df).map(_.queryExecution)
            Map("layers" -> Tracer.layers(b, qes, buildMs, wallMs, cores), "task_ms" -> b.taskMs.toSeq)
          }
        if (pass >= warmup) samples += Map("query" -> n, "pass" -> pass, "traced" -> tracePass, "build_ms" -> buildMs,
          "wall_ms" -> wallMs, "rows" -> rows, "error" -> err.orNull, "heap_peak_mb" -> heapMb) ++ layers
        settle()
      }
      if (tracePass) tracer.detach()
      pass += 1
    }

    val record = Map("cores" -> cores, "setups" -> setupRecs, "verify" -> verify,
      "samples" -> samples.toSeq, "measured_s" -> ms(start) / 1000)
    json.writeValue(new java.io.File(out), record)
    spark.stop()
  }
}
