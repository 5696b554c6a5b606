package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.MultimodalOps
import graft.ops.RelationalOps

/** Cross-module flows: the pipelines a training-data user actually
  * composes — multimodal decode → feature vectors → nearest-neighbor
  * search; and the native top-k aggregate against its window-formulation
  * oracle on random data.
  */
class IntegrationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("multimodal features flow into cosine nearest-neighbor search") {
    import spark.implicits._
    implicit val s = spark
    val media = MultimodalOps.syntheticMedia(Tables.documents(spark, "/root/testdata/sf0.001"))
    val feats = MultimodalOps.extractFeatures(media.as[MultimodalOps.MediaRow])
      .select(col("media_id"),
        expr("transform(features, x -> CAST(x AS FLOAT))").as("fvec"))
    val withNorm = feats.withColumn("nrm", sqrt(expr("vec_dot(fvec, fvec)")))
    val a = withNorm.select(col("media_id").as("m1"), col("fvec").as("f1"), col("nrm").as("n1"))
    val b = withNorm.select(col("media_id").as("m2"), col("fvec").as("f2"), col("nrm").as("n2"))
    val nn = a.join(b, col("m1") =!= col("m2"))
      .withColumn("cos", expr("vec_dot(f1, f2)") / (col("n1") * col("n2")))
      .groupBy("m1").agg(expr("top_k_pairs(cos, m2, 1)").as("t"))
      .select(col("m1"), expr("inline(t)"))
    assert(nn.count() === media.count())
    // cosine of non-negative byte-histogram features is in [0, 1]
    val cs = nn.select("score").collect().map(_.getDouble(0))
    assert(cs.forall(c => c >= -1e-9 && c <= 1.0 + 1e-9))
  }

  test("top_k_pairs equals window top-k on random data (property)") {
    import spark.implicits._
    val gen = Gen.listOfN(40, for {
      g <- Gen.choose(1, 4)
      sc <- Gen.choose(0, 5).map(_.toDouble) // coarse scores force ties
      p <- Gen.choose(1L, 50L)
    } yield (g, sc, p))
    val prop = Prop.forAll(gen) { rows =>
      rows.nonEmpty ==> {
        val df = rows.toDF("g", "score", "payload")
          .groupBy("g", "score", "payload").agg(count(lit(1))).select("g", "score", "payload") // dedupe exact triples
        val viaAgg = df.groupBy("g").agg(expr("top_k_pairs(score, payload, 3)").as("t"))
          .select(col("g"), expr("inline(t)")).select("g", "payload", "score")
        val viaWin = RelationalOps.topKPerGroup(
          Seq("g"), Seq(col("score").desc, col("payload").asc), 3)(df)
          .select("g", "payload", "score")
        viaAgg.exceptAll(viaWin).isEmpty && viaWin.exceptAll(viaAgg).isEmpty
      }
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }
}
