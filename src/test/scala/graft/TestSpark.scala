package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

/** One shared local session for the whole test run (SURVEY.md §5 —
  * one `SparkSession` per suite, `lazy val`, never per test).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.create("local[4]", 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `xs` as one double column `x`, in order, read through a range: a
    * frame built from a local list would let the optimizer evaluate a
    * projection over it at planning time (`ConvertToLocalRelation`),
    * interpreted, so generated code would never run on it.
    */
  def doubles(s: SparkSession, xs: Seq[Double]): DataFrame = {
    val values = xs.toArray
    val at = udf((i: Long) => values(i.toInt))
    s.range(0, values.length, 1, 2).select(at(col("id")).as("x"))
  }
}
