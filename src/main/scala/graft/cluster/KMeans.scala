package graft.cluster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{ExactVectorSumAgg, VectorOps}
import graft.plans.ArgminKernel
import graft.util.Jobs.described

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
  *  - a fit ([[fit]], [[fitExact]]) reads its points once into
  *    persisted per-partition arrays and runs each round as ONE
  *    shuffle-free job over them: every task runs the same argmin
  *    kernel per point and keeps k exact vector-sum buffers
  *    ([[graft.functions.ExactVectorSumAgg]]), which the driver merges
  *    (each task's k partials = Flink's combiner, the driver merge =
  *    its reduce) — no plan is analysed or shuffled per round;
  *  - [[accumulate]], [[average]] and the streaming model, which
  *    return frames or run inside a stream, use the same aggregate as
  *    the `exact_vec_sum` column function;
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

  /** Lloyd's loop ([[lloyd]]) until no center moves more than `tol`
    * (Euclidean; NaN counts as moved) or `maxIter` rounds have run;
    * `wcssHistory` holds each round's within-cluster sum of squares
    * under the centers it assigned to. Empty clusters keep their
    * previous center (reference behavior: a centroid nobody selects
    * receives no update); null vectors join no cluster; a cluster
    * component with only null coordinates raises a named
    * `IllegalStateException`. The centers are [[fitExact]]'s (bit for
    * bit with a negative `tol`), so no partitioning changes them; the
    * WCSS history is a double sum, stable only up to summation order. */
  def fit(
      points: DataFrame,
      vecCol: String,
      init: Array[Array[Double]],
      maxIter: Int = 10,
      tol: Double = 1e-6): FitResult =
    lloyd("fit", points, vecCol, init, maxIter, tol)

  /** Lloyd's loop ([[lloyd]]) for exactly `iters` rounds. Each round's
    * sums are exact ([[graft.functions.ExactVectorSumAgg]]: component i
    * equals `CAST(SUM(CAST(x[i] AS DECIMAL(38,12))) AS DOUBLE)` in any
    * summation order) and each coordinate is one correctly-rounded
    * division, so the center TRAJECTORY is bit-deterministic across
    * runs, partitionings and engines: the declared `kmeans_fit_native`
    * query is compared cell-exactly against a fixed-depth UNROLLED
    * DuckDB oracle (one assign→accumulate→average CTE stage per round).
    * No early stop, not even on a NaN center: a data-dependent depth
    * would break the oracle. Edge cases as in [[fit]]. */
  def fitExact(points: DataFrame, vecCol: String, init: Array[Array[Double]],
               iters: Int): Array[Array[Double]] =
    lloyd("fitExact", points, vecCol, init, iters, Double.NegativeInfinity).centers

  /** Vector components one round pushes through one task. A round
    * task runs the argmin and the exact sum at ~10 M values/s, so 64 k
    * values ≈ 6 ms of task compute — on the order of one task's
    * dispatch. Re-measured on ScaleUp's `kmeans_fit_native` row (10×:
    * 20 k 64-dim vectors, 4 cores, 4 interleaved runs each) once
    * rounds stopped planning: median 1.15 s at 16384, 1.17 s at this
    * value, 1.35 s at 262144 (2.77 s with per-round plans), so it
    * holds. */
  private val RoundValuesPerTask = 65536L

  /** One task's share of a round: per cluster, the point count, the
    * sqdist sum and the exact vector-sum buffer. */
  private final case class Partial(n: Array[Long], w: Array[Double], s: Array[Array[Long]])
  private object Partial {
    def empty(k: Int): Partial =
      Partial(new Array[Long](k), new Array[Double](k), Array.fill(k)(Array.emptyLongArray))
  }

  /** The Lloyd loop behind [[fit]] and [[fitExact]], MLlib's RDD shape
    * with graft's kernels:
    *  - the points are read ONCE through the plan's `toRdd` into one
    *    array of vectors per partition (null for a null vector),
    *    persisted and coalesced to ~[[RoundValuesPerTask]] components
    *    per task (inputs big enough to use the cluster stay as they are);
    *  - each round is ONE `mapPartitions…collect` job: one stage, no
    *    shuffle, no plan to analyse. Each vector goes through
    *    [[graft.plans.ArgminKernel]] (the `vec_argmin` kernel, so the
    *    plan's assignments and distances to the bit) into its cluster's
    *    [[graft.functions.ExactVectorSumAgg]] buffer; the driver merges
    *    the k-cluster partials with the aggregate's own `merge`/`finish`
    *    and divides by n.
    * A round's job is described as `KMeansNative.<name> round
    * i/maxIter`; the caller's job description is restored on exit. */
  private def lloyd(name: String, points: DataFrame, vecCol: String,
                    init: Array[Array[Double]], maxIter: Int, tol: Double): FitResult = {
    val sc = points.sparkSession.sparkContext
    val k = init.length
    val dim = init(0).length
    val parts = points.select(VectorOps.toDouble(col(vecCol))).queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(
        rows.map(r => if (r.isNullAt(0)) null else r.getArray(0).copy()).toArray))
      .setName(s"KMeansNative.$name points")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = described(sc, s"KMeansNative.$name points")(
        parts.map(_.length.toLong).collect().sum)
      val ideal = math.max(1L, n * dim / RoundValuesPerTask)
      val work = if (ideal < parts.getNumPartitions) parts.coalesce(ideal.toInt) else parts
      val agg = new ExactVectorSumAgg
      var centers = init.map(_.clone())
      val history = scala.collection.mutable.ArrayBuffer.empty[Double]
      var iter = 0
      var moved = Double.PositiveInfinity
      while (iter < maxIter && !(moved <= tol)) {
        val flat = centers.flatten
        val total = described(sc, s"KMeansNative.$name round ${iter + 1}/$maxIter")(
            work.mapPartitions(arrays => Iterator.single(roundPartial(arrays, flat, k, dim)))
              .collect())
          .foldLeft(Partial.empty(k)) { (a, b) =>
            for (c <- 0 until k) {
              a.n(c) += b.n(c); a.w(c) += b.w(c); a.s(c) = agg.merge(a.s(c), b.s(c))
            }
            a
          }
        history += total.w.sum
        val next = centers.map(_.clone())
        for (c <- 0 until k if total.n(c) > 0) {
          val count = total.n(c).toDouble
          next(c) = agg.finish(total.s(c)).zipWithIndex.map { case (s, d) =>
            if (s == null) throw new IllegalStateException(
              s"$name: cluster $c has only null coordinates in component $d")
            s / count
          }.toArray
        }
        moved = centers.zip(next).map { case (o, nw) =>
          math.sqrt(o.zip(nw).map { case (a0, b0) => (a0 - b0) * (a0 - b0) }.sum)
        }.foldLeft(0.0)(math.max)
        centers = next
        iter += 1
      }
      FitResult(centers, history.toSeq, iter)
    } finally parts.unpersist()
  }

  /** One task of a round: assign each vector, accumulate its cluster. */
  private def roundPartial(arrays: Iterator[Array[ArrayData]], flat: Array[Double],
                           k: Int, dim: Int): Partial = {
    val agg = new ExactVectorSumAgg
    val p = Partial.empty(k)
    arrays.foreach(_.foreach { v =>
      val best = if (v == null) null else ArgminKernel.compute(v, flat, k, dim)
      if (best != null) {
        val c = best.getInt(0)
        p.n(c) += 1
        p.w(c) += best.getDouble(1)
        p.s(c) = agg.reduceArray(p.s(c), v)
      }
    })
    p
  }

  /** Total within-cluster sum of squares for fixed centers
    * (deterministic via the decimal bridge). */
  def wcss(points: DataFrame, vecCol: String, centers: Array[Array[Double]]): Double =
    assigned(points.select(VectorOps.toDouble(col(vecCol)).as("v")), col("v"), centers)
      .agg(sum(col("sqdist").cast("decimal(38,12)")).cast("double"))
      .collect()(0).getDouble(0)
}
