package graft.cluster

import org.apache.spark.ml.clustering.{KMeans => MlKMeans, KMeansModel => MlKMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLlib parity path (SURVEY.md §2.2 "ML surface"): the reference's
  * whole program — Lloyd's K-Means over a batch collection — is what
  * `org.apache.spark.ml.clustering.KMeans` implements natively
  * (driver-held centers, one job per iteration, k-means|| init).
  * [[KMeansNative]] owns explicit-initial-centers reference semantics;
  * this path owns performance/scale and the standard ML API.
  */
object KMeansMl {

  /** @param initMode "k-means||" (default) or "random" — the two MLlib
    *                  init modes; explicit initial centers are the
    *                  native path's job ([[KMeansNative]]). */
  def fit(df: DataFrame, vecCol: String, k: Int, seed: Long = 42L,
          maxIter: Int = 20, tol: Double = 1e-4,
          initMode: String = "k-means||"): MlKMeansModel = {
    val feat = df.select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    new MlKMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter).setTol(tol).setInitMode(initMode)
      .setFeaturesCol("features").setPredictionCol("prediction")
      .fit(feat)
  }

  /** fit + transform, returning BOTH the model (centers, training
    * summary) and the prediction frame — one fit serves callers that
    * need the model's metadata alongside the assignments (the
    * `kmeans_fit_ml` banded summary reads center count/dim and
    * trainingCost from the model and point counts from the frame). */
  def fitPredictModel(df: DataFrame, vecCol: String, k: Int, seed: Long = 42L,
                      maxIter: Int = 20): (MlKMeansModel, DataFrame) = {
    val feat = df.withColumn("features", array_to_vector(col(vecCol).cast("array<double>")))
    val model = new MlKMeans()
      .setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("prediction")
      .fit(feat)
    (model, model.transform(feat).drop("features"))
  }
}
