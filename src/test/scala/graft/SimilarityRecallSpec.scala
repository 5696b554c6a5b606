package graft

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN quality harness: the approximate paths must actually find
  * neighbors, not just run. Ground truth is brute-force cosine top-1
  * (via the native vec_dot); the candidate path is multi-probe IVF —
  * KMeans-trained centroids, database vectors in their nearest cell,
  * queries probing their 2 nearest cells (nprobe=2 roughly doubles the
  * candidate set and recovers the neighbors that fall just across a
  * cell boundary, the standard IVF accuracy knob).
  */
class SimilarityRecallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("multi-probe IVF (KMeans cells, nprobe=2) reaches >=70% recall@1 vs brute force") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
      .withColumn("nrm", sqrt(expr("vec_dot(embedding, embedding)")))

    // ground truth: brute-force top-1 neighbor
    val a = vecs.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1"))
    val b = vecs.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2"))
    val truth = a.join(b, col("v1") =!= col("v2"))
      .withColumn("cos", expr("vec_dot(e1, e2)") / (col("n1") * col("n2")))
      .groupBy("v1").agg(expr("top_k_pairs(cos, v2, 1)").as("t"))
      .select(col("v1"), expr("inline(t)"))
      .select(col("v1"), col("payload").as("true_nn"))

    // train centroids (K1-style spark.ml usage)
    val ml = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, Vectors.dense(e.map(_.toDouble))) }
      .toDF("vec_id", "features")
    val model = new KMeans().setK(8).setSeed(42L).setFeaturesCol("features").fit(ml)
    val cdf = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
      .toSeq.toDF("cell", "cvec")

    // rank cells by Euclidean distance: argmax of 2x·c − ||c||² (−||x||² is constant per x)
    val scored = vecs.crossJoin(broadcast(cdf))
      .withColumn("negd", expr("2.0 * vec_dot(embedding, cvec) - vec_dot(cvec, cvec)"))
    def cellsPerVec(nprobe: Int) = scored
      .groupBy("vec_id").agg(expr(s"top_k_pairs(negd, cell, $nprobe)").as("t"))
      .select(col("vec_id"), expr("inline(t)"))
      .select(col("vec_id"), col("payload").as("cell"))
    val dbSide = cellsPerVec(1)
    val probes = cellsPerVec(2)

    val ca = probes.join(vecs, "vec_id")
      .select(col("cell"), col("vec_id").as("v1"), col("embedding").as("e1"), col("nrm").as("n1"))
    val cb = dbSide.join(vecs, "vec_id")
      .select(col("cell"), col("vec_id").as("v2"), col("embedding").as("e2"), col("nrm").as("n2"))
    val ivf = ca.join(cb, Seq("cell")).filter(col("v1") =!= col("v2"))
      .withColumn("cos", expr("vec_dot(e1, e2)") / (col("n1") * col("n2")))
      .groupBy("v1").agg(expr("top_k_pairs(cos, v2, 1)").as("t"))
      .select(col("v1"), expr("inline(t)"))
      .select(col("v1"), col("payload").as("ivf_nn"))

    val joined = truth.join(ivf, Seq("v1"), "left")
    val n = joined.count().toDouble
    val recall = joined.filter(col("ivf_nn") === col("true_nn")).count().toDouble / n
    info(f"multi-probe IVF recall@1 = $recall%.3f over ${n.toInt} vectors")
    assert(recall >= 0.7, f"IVF recall@1 $recall%.3f below 0.7")
  }
}
