package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.expr.GraftFunctions
import graft.plans.{AsOfJoinStrategy, DeferProjectPastSort}

/** The one place a graft session is built and made ready.
  *
  * `create` yields a session with the engine's required configs
  * (ns-timestamp reads, UTC, AQE, R-like non-ANSI semantics and the
  * `GraftExtensions` extension — see [[Tables.sessionConfigs]]), so its
  * native functions, as-of strategy, as-of codegen shield and
  * `DeferProjectPastSort` rule are present from the start. `install`
  * readies a session built elsewhere;
  * `SparkEntry.queries` calls it before every query, so a caller-supplied
  * session without the extension still works; a caller that runs SQL
  * on such a session calls it once itself. `registerTables` exposes the
  * testdata as SQL views so `spark.sql("SELECT ... FROM lineitem")`
  * works directly.
  */
object GraftSession {

  /** Local cores for the mains' sessions: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees.
    */
  private lazy val cpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** `setting` when it is a positive integer; blank (an empty `$(nproc)`),
    * zero, negative or unset means every core.
    */
  private[graft] def cpusFrom(setting: Option[String]): Int =
    setting.flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `extra` holds settings that must exist before the SparkContext does
    * (e.g. `spark.driver.maxResultSize`); runtime SQL confs can be set on
    * the returned session instead.
    */
  def create(master: String = s"local[$cpus]", shufflePartitions: Int = cpus,
             extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
    (Tables.sessionConfigs ++ extra).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Register each native function `spark` lacks, add the as-of
    * strategy if its planner has none and `DeferProjectPastSort` if its
    * optimizer has none. A session built with `GraftExtensions` already
    * has all three, so this changes nothing there — in particular it
    * never replaces an injected function. Idempotent.
    */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    GraftFunctions.table.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.registerFunction(id, GraftFunctions.info(name, cls), builder)
    }
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules ++ spark.experimental.extraOptimizations
    if (!rules.contains(DeferProjectPastSort))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ DeferProjectPastSort
  }

  /** Register every testdata table as a temp view named after itself. */
  def registerTables(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(spark, sfDir) else Tables.load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
