package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One named engine query: a Spark DataFrame program over the driver's
  * parquet tables plus (optionally) an equivalent DuckDB SQL oracle the
  * driver hash-compares against (SparkEntry contract).
  *
  * Oracle parity rules used throughout (so Spark and DuckDB agree
  * bit-for-bit):
  *  - sums/avgs of doubles are exact: the oracle sums
  *    CAST(x AS DECIMAL(18,2)) and casts the total to DOUBLE; Spark sums
  *    the same values as scaled longs (`exactSum`, `graft.expr.ExactSums`):
  *    `cents(x, 2)` is the cast's unscaled long for every double (HALF_UP
  *    on `Double.toString`, through Spark's own cast near a .5 tie or past
  *    2^50; null for NaN, ±Inf and |x| ≥ 10^16), the long sum refuses with
  *    a typed `ScaleGuardTrip` once count × max |term| could pass 2^62
  *    (never a wrapped total), and the total goes long → DECIMAL(38,2) →
  *    DOUBLE, the double the oracle's cast gives;
  *  - transcendental math (trig/exp/pow) is rounded to 6 decimals —
  *    JVM and libm may differ in the last ulp;
  *  - extracted integers (year, substring-casts) are cast to BIGINT to
  *    match DuckDB's default integer width;
  *  - every query ends in an explicit ORDER BY on a unique key.
  */
final case class NamedQuery(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** Session-scoped temp dirs for queries that stage files on local disk
  * (partitioned/bucketed write round-trips, streaming source dirs).
  * Fixed per-(query, application) path + overwrite semantics: re-runs
  * within a session REPLACE the copy instead of leaking one dir per
  * invocation (fn runs on every verify/bench/plan-dump pass), the
  * applicationId suffix keeps concurrent drivers from cross-writing
  * each other's copies, and a JVM shutdown hook removes this session's
  * dirs so re-runs of the app don't accumulate either.
  */
object TempPaths {
  private val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def dir(s: SparkSession, name: String): java.io.File = {
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${name}_${s.sparkContext.applicationId}")
    f.mkdirs()
    if (registered.add(f.getAbsolutePath))
      Runtime.getRuntime.addShutdownHook(new Thread(() => delete(f)))
    f
  }

  /** A build-once artifact: session dir `name`, filled by `build` at
    * most once per key (the q169/q209/capstone fixture pattern). The key
    * is the md5 of `key`'s parts joined by '#' (the dataset path, plus
    * any content fingerprint a caller has); a `_built_<key>` marker
    * records a finished build. A changed key or `rebuild = true` runs
    * `build` again. Stale markers go first, so a failed build cannot
    * leave a fresh marker over an old artifact. Returns the dir.
    */
  def buildOnce(s: SparkSession, name: String, key: Seq[Any], rebuild: Boolean = false)
               (build: java.io.File => Unit): java.io.File = {
    val d = dir(s, name)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(key.mkString("#").getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val marker = new java.io.File(d, s"_built_$hex")
    if (rebuild || !marker.exists()) {
      Option(d.listFiles()).foreach(_.filter(_.getName.startsWith("_built_")).foreach(_.delete()))
      build(d)
      marker.createNewFile(): Unit
    }
    d
  }

  /** Stage `src` into session dir `name`; returns the dir path — e.g. a
    * streaming file source's watched dir. `src` may be either shape a
    * table ships in: a single parquet FILE (the driver's testdata
    * layout — copied as `fileName`) or a parallel-written DIRECTORY of
    * part files (ScaleData's ≳256 MB layout — its `*.parquet` parts are
    * copied flat into the staged dir, where the file source lists them
    * all; a bare Files.copy of a directory would stage an EMPTY dir and
    * the stream would read 0 rows). The dir is cleared first so a
    * re-stage mirrors the current input exactly in both shapes.
    */
  def stageFile(s: SparkSession, name: String, src: String, fileName: String): java.io.File = {
    val d = freshDir(s, name)
    val from = new java.io.File(src)
    if (from.isDirectory) {
      val parts = from.listFiles().filter(_.getName.endsWith(".parquet"))
      require(parts.nonEmpty, s"stageFile: directory $src has no *.parquet part files")
      parts.foreach(p => java.nio.file.Files.copy(p.toPath, d.toPath.resolve(p.getName)))
    } else {
      java.nio.file.Files.copy(from.toPath, d.toPath.resolve(fileName))
    }
    d
  }

  /** A session dir as in `dir`, but with any contents from a previous
    * run in the same session removed first — for staging steps whose
    * file SET must exactly mirror the current input (a stale file from
    * an earlier, larger dataset would survive a glob read and produce
    * rows the oracle doesn't have).
    */
  def freshDir(s: SparkSession, name: String): java.io.File = {
    val f = dir(s, name)
    Option(f.listFiles()).foreach(_.foreach(delete))
    f
  }

  // also the vacuum primitive (q131): retention = recursive delete of
  // superseded snapshot dirs
  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}

trait QueryModule {
  def queries: Seq[(String, NamedQuery)]

  /** The exact-sum rule above, spelled once: `x` becomes the unscaled
    * long of CAST(x AS DECIMAL(18,k)) (`cents`), the longs sum under the
    * overflow guard, and the total turns into a double once per group.
    * DuckDB mirror: CAST(SUM(CAST(x AS DECIMAL(18,k))) AS DOUBLE).
    */
  protected def exactSum(x: Column, k: Int = 2): Column =
    graft.expr.ExactSums.sumOf(k, graft.expr.ExactSums.cents(x, k))
}
