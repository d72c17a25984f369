package graft.cluster

import graft.ops.StagePersists
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Strategy-performance prediction (SURVEY.md §2.9 M10; reference:
  * profiling/profiler.py:679-707 — a GradientBoostingRegressor
  * predicting per-strategy F1 from profile features, used to pick the
  * best detection strategy per column).
  *
  * MLlib GBTRegressor over the profile control plane: input is
  * O(#columns) rows, so the fit is cheap at any lake scale; the input
  * is checkpointed because boosting runs ~#trees × #iters jobs.
  */
object StrategyPredictor {

  def assemble(profiles: DataFrame,
      features: Seq[String] = Clustering.defaultFeatures): DataFrame =
    StagePersists.checkpoint(new VectorAssembler()
      .setInputCols(features.toArray).setOutputCol("features")
      .transform(profiles.select(
        (col("table") +: col("column") +: col("label").cast(DoubleType).as("label") +:
          features.map(f => coalesce(col(f).cast(DoubleType), lit(0.0)).as(f))): _*)))

  /** Fit a seeded GBT on profiles carrying a `label` column (observed
    * strategy F1). */
  def fit(profilesWithLabel: DataFrame,
      features: Seq[String] = Clustering.defaultFeatures,
      maxIter: Int = 20, seed: Long = 42L): GBTRegressionModel =
    new GBTRegressor().setMaxIter(maxIter).setSeed(seed).setMaxDepth(3)
      .setFeaturesCol("features").setLabelCol("label")
      .fit(assemble(profilesWithLabel, features))

  /** Predictions for every profiled column: (table, column, label,
    * prediction). */
  def predict(model: GBTRegressionModel, profilesWithLabel: DataFrame,
      features: Seq[String] = Clustering.defaultFeatures): DataFrame =
    model.transform(assemble(profilesWithLabel, features))
      .select("table", "column", "label", "prediction")
}
