package graft

import graft.QueryLoop.{Err, Ok, Outcome, Skip}

/** Driver-run benchmark: times every registered query at
  * SPARK_GRAFT_SF_DIR, prints one JSON line. A warmup action runs first
  * so JVM/codegen startup isn't attributed to whichever query happens to
  * run first; queries then run in sorted-name order for stable
  * attribution.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: touch every table once + run the flagship query (pays
    // session init, parquet footer reads, first codegen) + stage the
    // capstone CSV fixtures (one-time environment setup — without this
    // the alphabetically-first capstone's pass-1 carries the synthesis
    // cost and its min-of-2 silently depends on run order).
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
    SparkEntry.queries("q05_anchor_window")(spark, sfDir).count()
    graft.queries.CapstoneQueries.stageFixtures(spark, sfDir)
    // Optional args: query-name substrings to restrict the run; with
    // none, every registered query runs.
    val ordered = QueryLoop.select(args.toSeq)
    // Each query is timed twice and the MIN reported: on a shared box a
    // single reading carries multiplicative co-tenant noise (measured
    // round 4: two identical full runs 20 min apart differed by a
    // uniform ~1.6x across every query), and min-of-2 is the standard
    // way to report the code's cost rather than the machine's mood.
    // The two readings come from two INTERLEAVED full passes (every
    // query once, then every query again) rather than back-to-back
    // repeats: noise arrives in bursts lasting tens of seconds (measured
    // round 4: q93 read 10.5 s on BOTH adjacent runs mid-session, then
    // 2.1-2.7 s in three separate sessions), and back-to-back runs both
    // land inside one burst while pass-separated runs sit minutes apart.
    // The forcing action is toRdd.count() — executing the PHYSICAL plan
    // as planned — not DataFrame.count(): a logical count lets Catalyst
    // optimize the counted plan, and for some shapes that optimizes the
    // query AWAY. Measured round 12: q84 ends in a left join to a
    // unique-key aggregate, which the count rewrite eliminates wholesale,
    // so its round-9 sf1/sf10 "timings" (0.25 s / 0.34 s) measured a
    // column-pruned scan while the real bin-join volume at a same-ts
    // sf10 was 48.3B rows. toRdd triggers AQE finalization and runs
    // every operator the query declares, without collecting rows.
    // Guard trips (QueryLoop.Skip) are reported under "skipped" with the
    // successor, count toward neither n_queries nor n_errors, and a
    // sweep with only guard trips still reports n_errors = 0.
    def once(fn: QueryLoop.Query): (Double, Outcome) =
      QueryLoop.run(spark)(fn(spark, sfDir).queryExecution.toRdd.count())
    def message(o: Outcome): String = o match {
      case Skip(successor) => s"guard trip (by design); successor: ${successor.take(120)}"
      case Err(e) => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}"
      case Ok => "ok"
    }
    val pass1 = ordered.map { case (name, fn) => (name, once(fn)) }.toMap
    val results = ordered.map { case (name, fn) =>
      val (e1, o1) = pass1(name)
      val (elapsed, out) = o1 match {
        // a failure is not retried into a timing; a guard trip is
        // deterministic (same input, same bound) — re-running it would
        // just pay the O(bound) probe again
        case Skip(_) | Err(_) => (e1, o1)
        case Ok =>
          once(fn) match {
            case (e2, Ok) => (math.min(e1, e2), Ok)
            case (_, o2) =>
              // pass 1 succeeded, pass 2 didn't: the valid pass-1 timing
              // stands (a flaky second run must not turn a measured success
              // into an error, nor contribute a time-to-failure to a min)
              System.err.println(s"[bench] $name: pass 2 failed after pass 1 " +
                s"succeeded (flaky, keeping pass-1 timing): ${message(o2)}")
              (e1, Ok)
          }
      }
      (name, elapsed, out)
    }
    // Failed queries are reported in "errors" (not timed as successes)
    // so a crash is never indistinguishable from a fast result; guard
    // trips in "skipped" with the successor named.
    val ok = results.collect { case (k, v, Ok) => (k, v, Ok: Outcome) }
    val skips = results.collect { case (k, _, o: Skip) => (k, message(o)) }
    val qs = ok.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // JSON string escape: backslash, quote, ALL control chars (<0x20),
    // AND everything non-ASCII — an exotic control char or a surrogate
    // half (e.g. after take(80) splits a pair mid-emoji) in an exception
    // message must not produce an invalid BENCH json line. Escaping
    // non-ASCII makes the output pure ASCII, so no byte-level truncation
    // downstream can ever cut a multi-byte sequence.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val allErrs = results.collect { case (k, _, o: Err) => (k, message(o)) }
    val errs = allErrs.map { case (k, m) => s"\"" + k + "\":" + q(m) }.mkString("{", ",", "}")
    val skipsJson = skips.map { case (k, m) => s"\"" + k + "\":" + q(m) }
      .mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"skipped":$skipsJson,"sf":"$sfDir"}"""
    // The driver captures only the LAST ~2000 chars of stdout and
    // json-parses the line it finds there. A 150+-query map with FULL
    // names is ~4.5 KB, so printing it truncates its own opening brace
    // out of the window and the driver records parsed:null (observed in
    // BENCH_r04/r05) — and the round-8 fallback (40 slowest only) cost
    // round-over-round comparisons real information (round-8 verdict
    // task 6). Round 9: the clean-run line carries the COMPLETE map,
    // made to fit by keying on the query NUMBER (q01..q166 are
    // contiguous and unique) with integer-millisecond values —
    // ~1.6 KB for 166 queries, inside the tail window even after sbt's
    // "[success]" footer. "q_key"/"q_unit" document the encoding in the
    // line itself; BENCH_FULL.json keeps the full-name float map.
    // Locale-pinned formatting: f"%.3f" uses the JVM default locale and a
    // comma-decimal locale (de_DE) would emit "12,098" — unparseable JSON.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // compact skipped map: names only (the successor prose lives in the
    // full line) so 4 guard trips cost ~60 chars of the tail window
    val skipsCompact =
      if (skips.isEmpty) ""
      else skips.map { case (k, _) => q(k) }
        .mkString(""","skipped":[""", ",", "]")
    val sfName = sfDir.split('/').last
    // the driver's stdout tail window is ~2000 chars and sbt's
    // "[success]" footer eats ~80 of it; a complete line that would
    // overflow (suite growth, slow-SF 5-digit ms values) must fall back
    // to the named-slowest-40 format rather than truncate its own
    // opening brace back into the r04/r05 parsed:null failure
    val TailBudget = 1880
    val compactFull: Option[String] =
      if (allErrs.nonEmpty) None
      else {
        val qnum = "^q0*(\\d+)".r
        val numbered = ok.flatMap { case (k, v, _) =>
          qnum.findFirstMatchIn(k).map(m => (m.group(1).toInt, v))
        }
        val contiguous = numbered.size == ok.size &&
          numbered.map(_._1).sorted == (1 to ok.size).toList
        // Positional array (index i ↔ q(i+1)) is ~2× smaller than the
        // number-keyed map and kept the 208-query round-9 line at
        // ~1.1 KB after the map form outgrew the tail window (the
        // round-8 task-6 regression mode). The map stays as the shape
        // for a non-contiguous catalog. A name-keyed map physically
        // cannot fit: the driver captures the LAST 2000 chars of stdout
        // (verified against the recorded BENCH_r14/15/16 tails) and
        // sbt's footer eats ~75 of them, while 218 entries keyed
        // "1".."218" at ms resolution measure 2163 chars of map alone
        // (round-17 arithmetic over the real r16 values) — so the
        // positional array stays, and "names_ok":true attests the
        // index contract (q-numbers contiguous 1..n, checked in-process
        // right here) so a comparator can join index i ↔ q(i+1) safely.
        val l =
          if (contiguous) {
            val arr = numbered.sortBy(_._1)
              .map { case (_, v) => math.round(v * 1000).toString }
              .mkString("[", ",", "]")
            s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${ok.size},"n_errors":0,"n_skipped":${skips.size}$skipsCompact,"q_key":"array index i = query q(i+1)","names_ok":true,"q_unit":"ms","queries":$arr,"sf":"$sfName","full":"BENCH_FULL.json"}"""
          } else {
            val compact = ok.map { case (k, v, _) =>
              val n = qnum.findFirstMatchIn(k).map(_.group(1)).getOrElse(k)
              s"\"" + n + "\":" + math.round(v * 1000)
            }.mkString("{", ",", "}")
            s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${ok.size},"n_errors":0,"n_skipped":${skips.size}$skipsCompact,"q_key":"query number (q01..)","q_unit":"ms","queries":$compact,"sf":"$sfName","full":"BENCH_FULL.json"}"""
          }
        if (l.length <= TailBudget) Some(l) else None
      }
    val line = compactFull.getOrElse {
        // Error rounds fall back to the named slowest-40 + capped errors
        // (a 42-error round at ~150 chars each is ~6 KB of errors alone —
        // observed: BENCH_r06 parsed:null). n_errors carries the true
        // count; BENCH_FULL.json keeps every error untruncated.
        val slowest = ok.sortBy(-_._2).take(40)
          .map { case (k, v, _) => s"\"" + k + "\":" + r3(v) }
          .mkString("{", ",", "}")
        val errsCompact = allErrs.take(8)
          .map { case (k, m) =>
            // take(80) operates on UTF-16 units and can leave a dangling
            // high surrogate; drop it so even an escaped lone \uD8xx never
            // reaches a strict parser.
            val t = m.take(80)
            val trimmed =
              if (t.nonEmpty && Character.isHighSurrogate(t.last)) t.dropRight(1) else t
            s"\"" + k + "\":" + q(trimmed)
          }
          .mkString("{", ",", "}")
        // sf spelled as basename in BOTH formats so a comparison keyed
        // on the parsed field never sees two spellings for one SF
        s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${ok.size},"n_errors":${allErrs.size},"n_skipped":${skips.size}$skipsCompact,"queries":$slowest,"errors":$errsCompact,"sf":"$sfName","full":"BENCH_FULL.json"}"""
      }
    println(line)
    // The committed repo copy is each round's FULL-suite record; an
    // args-restricted profiling run must not overwrite it with a subset
    // (observed: a 6-query BENCH_FULL.json committed in round 6).
    val fullPaths =
      if (args.isEmpty) Seq("/root/repo/BENCH_FULL.json", "/tmp/bench_full.json")
      else Seq("/tmp/bench_full.json")
    for (path <- fullPaths)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), fullLine + "\n")
      catch { case _: java.io.IOException => () }
    spark.stop()
  }
}
