package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cluster.KMeansNative
import graft.functions.VectorOps

/** The exploded formulation of one exact Lloyd round — every point
  * posexploded into (cluster_id, dim, coord) rows, each coordinate
  * cast to DECIMAL(38,12) and hash-aggregated per (cluster, dim) — the
  * definition [[graft.functions.ExactVectorSumAgg]] must reproduce bit
  * for bit and the shape of the DuckDB Lloyd oracles. Kept as the
  * parity reference for [[KMeansNative.accumulate]],
  * [[KMeansNative.average]] and [[KMeansNative.fitExact]]. */
object LegacyLloyd {

  def accumulate(assignedDf: DataFrame, vec: Column): DataFrame =
    assignedDf
      .select(col("cluster_id"), posexplode(vec).as(Seq("dim", "coord")))
      .groupBy(col("cluster_id"), col("dim"))
      .agg(
        sum(col("coord").cast("decimal(38,12)")).cast("double").as("coord_sum"),
        count(lit(1)).as("n"))

  def average(assignedDf: DataFrame, vec: Column): DataFrame =
    KMeansNative.average(accumulate(assignedDf, vec))

  def fitExact(points: DataFrame, vecCol: String, init: Array[Array[Double]],
               iters: Int): Array[Array[Double]] = {
    val pts = points.select(VectorOps.toDouble(col(vecCol)).as("v"))
    var centers = init.map(_.clone())
    for (_ <- 0 until iters) {
      val rows = average(KMeansNative.assigned(pts, col("v"), centers), col("v"))
        .select("cluster_id", "dim", "coord").collect()
      val next = centers.map(_.clone())
      rows.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      centers = next
    }
    centers
  }
}
