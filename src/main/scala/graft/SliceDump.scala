package graft

/** Builder tooling (round-13 verdict task 2): engine-side dumps backing
  * the sf100 KEY-SAMPLED subset oracle for the queries whose FULL DuckDB
  * oracle exceeded the box at sf100 (round-12 record: q210's ground-truth
  * recompute re-assigns every vector — a |V| × √|V| product; q73's oracle
  * out-spilled the free disk). One JVM so the IVF artifact is built once
  * and every dump reads the same index.
  *
  * Writes to outDir:
  *   q209_ivf_index_build/   — engine output (occupancy read-back)
  *   q210_ivf_bounded_serving/ — engine output (top-5 per probe)
  *   q209_assign_all/        — (vec_id, cell) for the whole index
  *   q209_assign_sample/     — artifact rows for md5(vec_id) LIKE '00%'
  *   q210_probed_slice/      — the partition-pruned serving input
  *
  * `tools/check_sf100_slices.py` recomputes the sampled assignments, the
  * occupancy aggregation, the q210 router and the full candidate rescoring
  * independently in DuckDB and compares value-for-value; it also runs the
  * q73 scope-sliced oracle against a Verify dump. The same checker run at
  * sf1 first validates the slice machinery against the FULL oracles.
  *
  * Usage: tools/run_main.sh graft.SliceDump <sfDir> <outDir>
  */
object SliceDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: tools/run_main.sh graft.SliceDump <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // `df` is BY-NAME (round-15 verdict task 4): evaluating the queries
    // entry for q209 eagerly (re)builds the IVF artifact, so a strict
    // argument paid the build BEFORE the dump timer started and the
    // recorded sf100 build number came from a different instrument than
    // the dump numbers. Plan-wall (query-fn evaluation, which for q209
    // includes the artifact build) and dump-wall (the coalesced write)
    // are now timed and reported separately.
    def dump(name: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val planned = df
      val t1 = System.nanoTime()
      planned.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      val t2 = System.nanoTime()
      System.err.println(f"[slicedump] $name ok: plan+build ${(t1 - t0) / 1e9}%.1f s, " +
        f"dump ${(t2 - t1) / 1e9}%.1f s, total ${(t2 - t0) / 1e9}%.1f s")
    }
    // q209 first: its rebuild=true (re)builds the artifact this session
    // (that build lands in this dump's plan+build wall); everything
    // after reuses it via the dataset-keyed marker
    dump("q209_ivf_index_build",
      SparkEntry.queries("q209_ivf_index_build")(spark, sfDir))
    graft.queries.SimilarityQueries.sliceDumps(spark, sfDir)
      .foreach { case (name, df) => dump(name, df) }
    dump("q210_ivf_bounded_serving",
      SparkEntry.queries("q210_ivf_bounded_serving")(spark, sfDir))
    spark.stop()
  }
}
