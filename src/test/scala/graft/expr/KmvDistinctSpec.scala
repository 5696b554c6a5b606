package graft.expr

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Properties of the native KMV distinct sketch that justify its oracle
  * band: exactness below k, partition-order invariance (the property
  * KLL/GK-style sketches lack and the reason this one is gate-able),
  * and estimator accuracy well inside the 1/sqrt(k-2) theory bound.
  */
class KmvDistinctSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def hashed(n: Int, dupFactor: Int = 1) = {
    import spark.implicits._
    (1 to n).flatMap(i => Seq.fill(dupFactor)(i.toLong)).toDF("v")
      .withColumn("h", conv(substring(md5(col("v").cast("string")), 1, 15), 16, 10).cast("long"))
  }

  test("exact below k: fewer than k distinct inputs returns the exact count") {
    val est = hashed(200, dupFactor = 3)
      .agg(expr("kmv_distinct(h, 256)")).collect()(0).getDouble(0)
    assert(est === 200.0)
  }

  test("partition-order invariance: same estimate under any repartitioning") {
    val df = hashed(10000)
    val ests = Seq(1, 7, 32).map { p =>
      df.repartition(p).agg(expr("kmv_distinct(h, 256)")).collect()(0).getDouble(0)
    }
    assert(ests.distinct.size === 1, s"estimates differ across partitionings: $ests")
  }

  test("estimator lands inside the 4-sigma band on 10k distinct values") {
    val est = hashed(10000).agg(expr("kmv_distinct(h, 256)")).collect()(0).getDouble(0)
    val rse = 1.0 / math.sqrt(256 - 2)
    assert(math.abs(est - 10000.0) / 10000.0 < 4 * rse,
      s"estimate $est outside 4-sigma of 10000")
  }

  test("duplicates do not move the estimate (set semantics)") {
    val e1 = hashed(5000).agg(expr("kmv_distinct(h, 256)")).collect()(0).getDouble(0)
    val e2 = hashed(5000, dupFactor = 4).agg(expr("kmv_distinct(h, 256)")).collect()(0).getDouble(0)
    assert(e1 === e2)
  }
}
