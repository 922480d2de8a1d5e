package graft.cluster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{ExactVectorSumAgg, VectorOps}

/** Spark-native Lloyd's K-Means with explicit initial centers —
  * the reference program's semantics (Flink batch KMeans example:
  * `SelectNearestCenter` / `CentroidAccumulator` / `CentroidAverager`
  * inside a bulk iteration; SURVEY.md §2.1 rows 4–10 [R]) re-expressed
  * Spark-first:
  *
  *  - assignment is one compiled Catalyst expression over driver-held
  *    centers ([[argminColumns]]): the min-distance centroid with the
  *    reference's lowest-id tie-break, inside whole-stage codegen — no
  *    UDF, no shuffle of points, embarrassingly parallel at any scale;
  *  - the per-round aggregate is one typed vector-sum `Aggregator` per
  *    cluster — the double [[graft.functions.VectorSumAgg]] in [[fit]],
  *    the exact [[graft.functions.ExactVectorSumAgg]] in [[fitExact]],
  *    [[accumulate]] and the streaming model — so only k×numPartitions
  *    partial buffers shuffle (Catalyst's partial+final
  *    ObjectHashAggregate = Flink's combiner);
  *  - like MLlib, the k·d centers (a few KB) are the only data that
  *    ever crosses back to the driver, so the loop scales to 100 TB
  *    inputs unchanged.
  */
object KMeansNative {

  /** Argmin over driver-held centers. Returns (cluster_id, sqdist)
    * columns — ONE compiled [[graft.plans.expressions.ArgminCenters]]
    * node whose centers ride as a flat double[] codegen reference, so
    * plan size is O(1) in k·d (the literal-array formulation carried
    * k·d literals through analysis/optimization EVERY Lloyd round —
    * planning dominated execution at 10 rounds; kept as
    * [[argminColumnsLiteral]], spec-pinned equal). Tie-break: lowest
    * cid wins equal distances — the reference's iteration-order
    * semantics, same as (dist, cid) struct ordering. */
  def argminColumns(vec: Column, centers: Array[Array[Double]]): (Column, Column) = {
    require(centers.nonEmpty, "need at least one center")
    val best = graft.plans.expressions.vec_argmin(vec, centers)
    (best.getField("cluster_id"), best.getField("sqdist"))
  }

  /** The literal `array_min(array(struct(vec_sqdist, cid)...))`
    * formulation of [[argminColumns]] — the equivalence twin
    * (KMeansSpec pins both paths bit-equal on the fixture corpus;
    * same arithmetic, same tie-break, built-ins only). */
  def argminColumnsLiteral(vec: Column, centers: Array[Array[Double]]): (Column, Column) = {
    require(centers.nonEmpty, "need at least one center")
    val candidates = centers.zipWithIndex.map { case (c, cid) =>
      val cvec = array(c.map(lit).toIndexedSeq: _*)
      struct(graft.plans.expressions.vec_sqdist(vec, cvec).as("dist"), lit(cid).as("cid"))
    }
    val best = array_min(array(candidates.toIndexedSeq: _*))
    (best.getField("cid"), best.getField("dist"))
  }

  /** Points → (original columns + cluster_id + sqdist). `vec` must be
    * array<double>. */
  def assigned(points: DataFrame, vec: Column, centers: Array[Array[Double]]): DataFrame = {
    val (cid, d2) = argminColumns(vec, centers)
    points.withColumn("cluster_id", cid).withColumn("sqdist", d2)
  }

  /** Deterministic reference-style init: centroids are the k rows with
    * the lowest ids, cluster ids 0..k-1 in id order (SQL-expressible, so
    * oracle-checkable). Collects only k·d scalars. */
  def firstKCenters(points: DataFrame, idCol: String, vecCol: String, k: Int): Array[Array[Double]] =
    points
      .orderBy(col(idCol))
      .limit(k)
      .select(VectorOps.toDouble(col(vecCol)))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  /** One Lloyd's round's accumulator: per-cluster exact component
    * sums and counts as (cluster_id, dim, coord_sum, n) rows — the k
    * rows of [[clusterSums]] exploded ×dim on the way out, so only k
    * buffers per partition shuffle whatever the input size.
    *
    * Sums are exact (see [[graft.functions.ExactVectorSumAgg]]): each
    * coord_sum is `CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)` bit
    * for bit, so cross-partition summation order cannot perturb the
    * result and the output is hash-deterministic (SURVEY.md §5.2).
    * Points the argmin leaves unassigned (null or dimension-mismatched
    * vectors) join no cluster; a null coordinate is skipped by its sum
    * and still counted in n, as SQL's sum and count(*) do.
    */
  def accumulate(assignedDf: DataFrame, vec: Column): DataFrame =
    clusterSums(assignedDf, vec)
      .select(col("cluster_id"), posexplode(col("s")).as(Seq("dim", "coord_sum")), col("n"))

  /** Centroid update from [[accumulate]] output: component mean. */
  def average(accumulated: DataFrame): DataFrame =
    accumulated.select(
      col("cluster_id"), col("dim"),
      (col("coord_sum") / col("n")).as("coord"), col("n"))

  /** k rows (cluster_id, n, s): the point count and the exact vector
    * sum of each non-empty cluster — ONE partial+final aggregate, the
    * reference's `CentroidAccumulator` combiner shape. */
  private def clusterSums(assignedDf: DataFrame, vec: Column): DataFrame =
    assignedDf
      .filter(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), ExactVectorSumAgg.exact_vec_sum(vec).as("s"))

  final case class FitResult(
      centers: Array[Array[Double]],
      wcssHistory: Seq[Double],
      iterations: Int)

  /** Full Lloyd's loop, driver-held centers (MLlib's own structure:
    * one Spark job per iteration, k·d doubles collected per round).
    * Empty clusters keep their previous center (reference behavior: a
    * centroid nobody selects receives no update).
    *
    * Determinism note: per-cluster sums use double partial aggregation,
    * so center coordinates are stable only up to partial-merge order
    * (low-ULP variation across runs) — which is why the declared fit is
    * [[fitExact]], whose sums (like [[accumulate]]'s) are exact and
    * hash-checked. */
  def fit(
      points: DataFrame,
      vecCol: String,
      init: Array[Array[Double]],
      maxIter: Int = 10,
      tol: Double = 1e-6): FitResult = {
    val k = init.length
    val pts = points
      .select(VectorOps.toDouble(col(vecCol)).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = init(0).length
      val work = roundSized(pts, dim)
      var centers = init.map(_.clone())
      val history = scala.collection.mutable.ArrayBuffer.empty[Double]
      var iter = 0
      var moved = Double.MaxValue
      while (iter < maxIter && moved > tol) {
        val a = assigned(work, col("v"), centers)
        // Single job per iteration: k rows of (cid, n, wcss, sum-vec)
        // via the typed vector-sum Aggregator — partial+final
        // ObjectHashAggregate, shuffle = k × numPartitions buffers.
        val rows = a
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n"), sum("sqdist").as("w"),
            graft.functions.VectorSumAgg.vec_sum(dim)(col("v")).as("s"))
          .collect()
        history += rows.map(_.getDouble(2)).sum
        val next = centers.map(_.clone())
        rows.foreach { r =>
          val n = r.getLong(1).toDouble
          next(r.getInt(0)) = r.getSeq[Double](3).map(_ / n).toArray
        }
        moved = centers.zip(next).map { case (o, nw) =>
          math.sqrt(o.zip(nw).map { case (a0, b0) => (a0 - b0) * (a0 - b0) }.sum)
        }.max
        centers = next
        iter += 1
      }
      FitResult(centers, history.toSeq, iter)
    } finally pts.unpersist()
  }

  /** Lloyd's loop with EXACT per-round arithmetic: each round is one
    * job of k rows — per cluster, the point count and the exact vector
    * sum of [[graft.functions.ExactVectorSumAgg]], whose components
    * equal `CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE)` bit for bit
    * in any summation order — and the center update is one
    * correctly-rounded double division per coordinate on the driver.
    * So the whole center TRAJECTORY is bit-deterministic across runs,
    * partitionings and engines. That makes the full iterative fit
    * hash-checkable: the declared `kmeans_fit_native` query is
    * compared against a fixed-depth UNROLLED DuckDB oracle (one
    * assign→accumulate→average CTE stage per round) cell-exactly.
    * Runs exactly `iters` rounds — an extra round from a fixpoint is
    * the identity, so early stopping is unnecessary for parity and
    * would make the oracle depth data-dependent. Empty clusters keep
    * their previous center (reference semantics); unassignable points
    * (null vectors) join no cluster. Only k·d doubles ever cross to the
    * driver, so the loop scales to 100 TB inputs unchanged ([[fit]]
    * sums in double instead, stable run to run only up to ULPs, which
    * is why it is not the declared query). */
  def fitExact(points: DataFrame, vecCol: String, init: Array[Array[Double]],
               iters: Int): Array[Array[Double]] = {
    val pts = points.select(VectorOps.toDouble(col(vecCol)).as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val work = roundSized(pts, init(0).length)
      var centers = init.map(_.clone())
      var it = 0
      while (it < iters) {
        val rows = clusterSums(assigned(work, col("v"), centers), col("v")).collect()
        val next = centers.map(_.clone())
        rows.foreach { r =>
          val cid = r.getInt(0)
          val n = r.getLong(1).toDouble
          next(cid) = r.getSeq[java.lang.Double](2).zipWithIndex.map { case (s, d) =>
            if (s == null) throw new IllegalStateException(
              s"fitExact: cluster $cid has only null coordinates in component $d")
            s / n
          }.toArray
        }
        centers = next
        it += 1
      }
      centers
    } finally pts.unpersist()
  }

  /** Vector components one round's aggregate pushes through one task.
    * The exact vector-sum aggregate takes ~10 M values/s per task
    * (1.28 M values in one task: 0.12 s/round; [[fit]]'s double sum:
    * 0.15 s), so 64 k values ≈ 6 ms of task compute — on the order of
    * one task's dispatch. A 4× larger target (one wave of tasks on 4
    * cores at 10×) measured no faster on ScaleUp's `kmeans_fit_native`
    * row (2.72 vs 2.53 s, 3 interleaved pairs), and a 64× larger one
    * single-tasked the 10× fit, so this value holds both scales. */
  private val RoundValuesPerTask = 65536L

  /** Right-size an (already persisted) per-round frame: an iterative
    * fit pays per-TASK scheduling cost every round, so a small input
    * spread over many cache partitions is pure overhead ×iters
    * (measured: 2 k vectors × 32 partitions = 0.4 s/round of which
    * ~0.25 s was task dispatch). Coalesce — narrow, cache-reading —
    * to ~[[RoundValuesPerTask]] vector components per task; inputs big
    * enough to use the cluster are left untouched (ideal ≥ current
    * partitions), so at 100 TB this is the identity. Triggers one
    * count() job on the cached frame — amortized over iters rounds. */
  private def roundSized(pts: DataFrame, dim: Int): DataFrame = {
    val cur = pts.rdd.getNumPartitions
    val ideal = math.max(1L, pts.count() * dim / RoundValuesPerTask)
    if (ideal < cur) pts.coalesce(ideal.toInt) else pts
  }

  /** Total within-cluster sum of squares for fixed centers
    * (deterministic via the decimal bridge). */
  def wcss(points: DataFrame, vecCol: String, centers: Array[Array[Double]]): Double =
    assigned(points.select(VectorOps.toDouble(col(vecCol)).as("v")), col("v"), centers)
      .agg(sum(col("sqdist").cast("decimal(38,12)")).cast("double"))
      .collect()(0).getDouble(0)
}
