package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dumps `.explain("formatted")` for named queries to per-query files —
  * the optimization-round evidence format (plans/rNN/<query>_<tag>.txt).
  *
  * `sbt "runMain graft.PlanDump <sfDir> <outDir> <tag> <name> [name...]"`
  *
  * Unlike graft.Plans (SimpleMode, fixed headline list, one PLANS.md),
  * this emits FormattedMode — the numbered-operator form with per-node
  * PushedFilters / ReadSchema / join build sides — one file per query,
  * so a before/after pair diffs cleanly. Queries that checkpoint an
  * intermediate (DedupOps.neardupEdges, CacheScope) surface as `Scan
  * ExistingRDD` in the outer plan; the recorded inner plans (the
  * pipeline that actually does the work) are appended.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <tag> <name> [name...]")
    val Array(sfDir, outDir, tag) = args.take(3)
    val names = args.drop(3).toSeq
    val spark = GraftSession.create("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val (plan, inners) = Plans.render(spark, sfDir, name, FormattedMode)
      val sb = new StringBuilder
      sb.append(s"# $name — $tag (sf: $sfDir)\n\n")
      sb.append(plan)
      inners.zipWithIndex.foreach { case (inner, i) =>
        sb.append(s"\n\n## inner plan ${i + 1} (pre-checkpoint, AQE's initial plan)\n\n")
        sb.append(inner)
      }
      sb.append("\n")
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), sb.toString)
      println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
