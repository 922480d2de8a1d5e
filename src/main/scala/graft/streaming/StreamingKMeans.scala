package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cluster.KMeansNative

/** Structured-Streaming-native streaming K-Means: per micro-batch,
  * assign points to the current centers (the codegen argmin
  * expression), aggregate per-cluster sums/counts (one job on the
  * batch), and fold them into decayed running centers on the driver —
  * the classic mini-batch update
  *
  *   c' = (c·w·α + sum) / (w·α + n),   w' = w·α + n
  *
  * with decay factor α (α = 1: all history equal; α → 0: only the
  * latest batch). This is the Spark-4 replacement for the legacy
  * DStream `mllib.clustering.StreamingKMeans` (removed API family),
  * expressed via `foreachBatch` + driver-held state — only k·d
  * doubles ever leave the executors per batch.
  */
final class StreamingKMeansModel(init: Array[Array[Double]], decay: Double) {
  require(decay > 0 && decay <= 1.0, "decay in (0, 1]")
  private val state = new AtomicReference[(Array[Array[Double]], Array[Double])](
    (init.map(_.clone()), Array.fill(init.length)(0.0)))

  def centers: Array[Array[Double]] = state.get()._1.map(_.clone())
  def weights: Array[Double] = state.get()._2.clone()

  /** Fold one batch of points (column `vecCol`: array<double>) into
    * the model. Safe to call from foreachBatch (serial per query).
    *
    * Sums go through [[KMeansNative.accumulate]]'s exact vector sum
    * rather than a double-summing UDAF: partial-buffer merge order is
    * nondeterministic across partitions, and the streaming model is
    * oracle-checked (`stream_kmeans_parity`) — per the engine's
    * determinism rule, cross-partition float sums must be exact. The
    * batch is one aggregate of k rows over the exact vector sum
    * [[KMeansNative.fitExact]] also runs
    * ([[graft.functions.ExactVectorSumAgg]]); only k·d sums ever reach
    * the driver. */
  def update(batch: DataFrame, vecCol: String): Unit = {
    if (batch.isEmpty) return
    val (cs, ws) = state.get()
    val dim = cs(0).length
    val rows = KMeansNative
      .accumulate(
        KMeansNative.assigned(
          batch.select(col(vecCol).cast("array<double>").as("v")), col("v"), cs),
        col("v"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      .sortBy { case (cid, d, _, _) => (cid, d) }
    val nextC = cs.map(_.clone())
    val nextW = ws.map(_ * decay)
    rows.foreach { case (cid, d, coordSum, nL) =>
      val n = nL.toDouble
      val w0 = ws(cid) * decay
      val wNew = w0 + n
      nextC(cid)(d) = (cs(cid)(d) * w0 + coordSum) / wNew
      if (d == dim - 1) nextW(cid) = wNew
    }
    state.set((nextC, nextW))
  }
}

object StreamingKMeans {

  /** Attach a streaming K-Means model to a vector stream; returns the
    * (started) query and the continuously-updated model. */
  def fitStream(vecStream: DataFrame, vecCol: String,
                init: Array[Array[Double]], decay: Double = 0.9,
                queryName: String = "streaming_kmeans"): (StreamingQuery, StreamingKMeansModel) = {
    val model = new StreamingKMeansModel(init, decay)
    val q = vecStream.writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        model.update(batch.toDF(), vecCol)
      }
      .start()
    (q, model)
  }
}
