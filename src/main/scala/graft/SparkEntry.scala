package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` assembles every module's named queries (SURVEY.md §2 operator
  * inventory over the driver testdata); `oracleSql` carries the DuckDB
  * equivalent for each oracle-checkable query. Column names are aligned
  * between both sides (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    RelationalQueries, MotionQueries, EventQueries, TextQueries,
    DedupQueries, SimilarityQueries, CoverageGapQueries, CorpusQueries,
    PipelineQueries, PretrainQueries, LakehouseQueries, CapstoneQueries)

  // registry order, with docs — Catalog.md generation reads this so the
  // catalog can't miss a module the driver gate sees
  private[graft] lazy val all: Seq[(String, NamedQuery)] = modules.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_anchor_window")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each readies
    * its session first (`GraftSession.install`), so a session built
    * without `GraftExtensions` still resolves the native functions.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, q) =>
      n -> { (s: SparkSession, d: String) => GraftSession.install(s); q.fn(s, d) }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (n, q) if q.oracle.isDefined => n -> q.oracle.get }.toMap
}
