package graft
import java.nio.file.{Files, Paths}

import graft.QueryLoop.{Err, Ok, Skip}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), sel) = args.splitAt(2)
    // Correctness-gate-only override (round-14 ADVICE: keep it OUT of
    // the shared sessionConfigs so Bench/tests/library sessions retain
    // the driver-collect guardrail): the streaming gates snapshot
    // their result through a memory sink in Complete mode (production
    // mode is Append — q217's eviction is spec-pinned), and at sf100
    // the q217 snapshot's serialized task results exceed the 1g
    // default, dying in the harness, not the plan. Verify runs one
    // query at a time in a single local JVM, so the collect is an
    // in-process copy and the conservative cluster default buys
    // nothing here.
    val spark = GraftSession.create(extra = Map("spark.driver.maxResultSize" -> "8g"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional extra args: query-name substrings restricting the dump
    // (builder-side iteration); the driver invokes with 2 args = all.
    val selected = QueryLoop.select(sel.toSeq)
    // Queries run in name order with per-query progress on stderr: a
    // multi-hour scale sweep (sf10/sf100) is otherwise a silent JVM.
    var done = 0
    selected.foreach { case (name, fn) =>
      QueryLoop.run(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } match {
        case (elapsed, Ok) =>
          done += 1
          System.err.println(f"[verify] $name ok in $elapsed%.1f s ($done/${selected.size})")
        case (_, Skip(successor)) =>
          System.err.println(s"[verify] $name skipped by guard; successor: $successor")
        case (_, Err(e)) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
