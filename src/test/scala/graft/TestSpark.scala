package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (SURVEY.md §5 —
  * one `SparkSession` per suite, `lazy val`, never per test).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.create("local[4]", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
