package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.{IndexToString, StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K1-K4 (all coverages.R:192-231): the random-forest pass-coverage
  * classifier as a spark.ml Pipeline — StringIndexer(label) +
  * VectorAssembler(features) + RandomForestClassifier, with the
  * reference's seeded 75/25 split (seeds 123/222 → one seed here;
  * `randomSplit` is statistical, not row-identical — SURVEY.md §2.F4)
  * and its post-fit diagnostics (confusion matrix, accuracy, variable
  * importance) as DataFrame ops instead of printed plots.
  *
  * Excluded from the DuckDB oracle (K ops are model-dependent); covered
  * by §5.4 sanity tests instead.
  */
object CoverageModel {

  /** The seed of the split and the forest (the reference's 123). */
  val Seed = 123L

  final case class Fitted(
      model: PipelineModel,
      labels: Array[String],
      featureCols: Array[String]) {

    def rf: RandomForestClassificationModel = {
      def find(stages: Array[org.apache.spark.ml.Transformer]): Option[RandomForestClassificationModel] =
        stages.collectFirst {
          case m: RandomForestClassificationModel => m
          case p: PipelineModel if find(p.stages).isDefined => find(p.stages).get
        }
      find(model.stages).get
    }

    /** K2: score a feature frame (keys survive — the reference's fragile
      * row_num merge, all coverages.R:300-306, is unnecessary).
      */
    def predict(features: DataFrame): DataFrame = model.transform(features)

    /** K3 (all coverages.R:209-214): confusion matrix as label × predicted counts. */
    def confusion(scored: DataFrame): DataFrame =
      scored.groupBy("coverage").pivot("predicted_coverage", labels.toSeq)
        .agg(count(lit(1))).na.fill(0)

    /** K3: simple accuracy. */
    def accuracy(scored: DataFrame): Double = {
      val agg = scored.agg(
        sum(when(col("coverage") === col("predicted_coverage"), 1L).otherwise(0L)).as("hit"),
        count(lit(1)).as("n")).head()
      agg.getLong(0).toDouble / agg.getLong(1)
    }

    /** K4 (all coverages.R:220-231): per-feature importance (sums to 1). */
    def importances: Seq[(String, Double)] = {
      val v = rf.featureImportances.toArray
      featureCols.toSeq.zip(v.toSeq)
    }
  }

  /** K1 (all coverages.R:202-204): fit on a labeled feature frame
    * (label column `coverage`; every other numeric column a feature).
    */
  def fit(labeled: DataFrame, numTrees: Int = 50): Fitted = {
    val featureCols = labeled.schema.fields
      .filter(f => f.name != "coverage" && (f.dataType.typeName == "double" || f.dataType.typeName == "integer" || f.dataType.typeName == "long"))
      .map(_.name)
    val indexer = new StringIndexer()
      .setInputCol("coverage").setOutputCol("label").setHandleInvalid("skip")
    val assembler = new VectorAssembler()
      .setInputCols(featureCols).setOutputCol("features").setHandleInvalid("keep")
    val rf = new RandomForestClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setNumTrees(numTrees).setSeed(Seed)
    val pipeline = new Pipeline().setStages(Array(indexer, assembler, rf))
    val model = pipeline.fit(labeled)
    val labels = model.stages.collectFirst { case m: StringIndexerModel => m }.get.labelsArray.head
    val withBack = new IndexToString()
      .setInputCol("prediction").setOutputCol("predicted_coverage").setLabels(labels)
    Fitted(new Pipeline().setStages(Array(model, withBack)).fit(labeled), labels, featureCols)
  }

  /** F4 (all coverages.R:192-199): seeded 75/25 split. */
  def trainTestSplit(df: DataFrame): (DataFrame, DataFrame) = {
    val Array(train, test) = df.randomSplit(Array(0.75, 0.25), Seed)
    (train, test)
  }
}
