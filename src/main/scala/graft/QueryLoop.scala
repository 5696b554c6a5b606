package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.ScaleGuards.ScaleGuardTrip

/** The per-query loop Bench and Verify share: selection, outcome
  * classification, and the cleanup between queries.
  *
  * Three outcomes, not two: a ScaleGuard trip is a BY-DESIGN fail-fast —
  * the O(n²) oracle refusing a corpus-scale input and naming its
  * production successor — and must not share a bucket with real
  * breakage in sweep output.
  */
object QueryLoop {
  sealed trait Outcome
  case object Ok extends Outcome
  final case class Skip(successor: String) extends Outcome
  final case class Err(e: Throwable) extends Outcome

  type Query = (SparkSession, String) => DataFrame

  /** Registered queries whose name contains any of `selectors` (every
    * query when there are none), in name order.
    */
  def select(selectors: Seq[String]): Seq[(String, Query)] =
    SparkEntry.queries.toSeq
      .filter { case (n, _) => selectors.isEmpty || selectors.exists(n.contains) }
      .sortBy(_._1)

  /** `s` as a JSON string literal, pure ASCII: quote, backslash, `\n`,
    * `\r` and `\t` get their short escapes, every other control char
    * and everything non-ASCII a `\uXXXX` escape per UTF-16 unit. An
    * exotic control char or a surrogate half (a `take(n)` that splits an
    * emoji) in an exception message or query SQL still yields a line
    * `json.load` accepts, and no byte-level truncation downstream can
    * cut a multi-byte sequence.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Run one query's `action`, classify how it ended, then clean up.
    * Returns the action's wall seconds (cleanup excluded) and outcome.
    */
  def run(spark: SparkSession)(action: => Unit): (Double, Outcome) = {
    val t0 = System.nanoTime()
    val outcome =
      try { action; Ok }
      catch {
        case g: ScaleGuardTrip => Skip(g.successor)
        case e: Throwable => Err(e)
      }
    val elapsed = (System.nanoTime() - t0) / 1e9
    // Queries that persist() intermediates can't unpersist before the
    // terminal action runs here; drop their cached blocks now so cache
    // pressure from one query never degrades the queries after it.
    spark.sharedState.cacheManager.clearCache()
    // ContextCleaner reclaims dead broadcast/shuffle/localCheckpoint
    // blocks only after a GC notices the weak references — force one
    // so the previous query's block-manager state can't squeeze this
    // one's execution memory (see build.sbt's heap-size note).
    System.gc()
    (elapsed, outcome)
  }
}
