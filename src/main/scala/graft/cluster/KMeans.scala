package graft.cluster

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.functions.{ExactVectorSumAgg, VectorOps}
import graft.plans.ArgminKernel
import graft.util.Jobs.{persisted, roundJob}

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
  *    its reduce) — no plan is analysed or shuffled per round. The
  *    loop ([[lloyd]]) trains m models at once over m component ranges
  *    of the same vectors, which is how PQ trains its m codebooks with
  *    one read and one job per round;
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
    lloyd("fit", points, vecCol, Seq(Model(0, init, sliced = false)), maxIter, tol).head

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
    lloyd("fitExact", points, vecCol, Seq(Model(0, init, sliced = false)), iters,
      Double.NegativeInfinity).head.centers

  /** Vector components one round pushes through one task, counted over
    * all of a loop's models. A round task runs the argmin and the exact
    * sum at ~10 M values/s, so 64 k values ≈ 6 ms of task compute — on
    * the order of one task's dispatch. Re-measured on ScaleUp's
    * `kmeans_fit_native` row (10×: 20 k 64-dim vectors, 4 cores, 4
    * interleaved runs each) once rounds stopped planning: median 1.15 s
    * at 16384, 1.17 s at this value, 1.35 s at 262144 (2.77 s with
    * per-round plans), so it holds. */
  private val RoundValuesPerTask = 65536L

  /** One model of a [[lloyd]] loop: centers `init` over the components
    * [from, from + d) of each vector, d the centers' length. A `sliced`
    * model reads them as Catalyst's `slice(v, from + 1, d)` does, so a
    * vector shorter than from + d joins none of its clusters; an
    * unsliced one ([[fit]], [[fitExact]]: from 0) reads the whole
    * vector, which must have length d. */
  private[graft] final case class Model(from: Int, init: Array[Array[Double]],
                                        sliced: Boolean = true) {
    val k: Int = init.length
    val dim: Int = init(0).length
    /** Whether a vector of length `len` joins one of its clusters. */
    def reads(len: Int): Boolean = if (sliced) len >= from + dim else len == dim
  }

  /** One task's share of a round for one model: per cluster, the point
    * count, the sqdist sum and the exact vector-sum buffer. */
  private final case class Partial(n: Array[Long], w: Array[Double], s: Array[Array[Long]])
  private object Partial {
    def empty(k: Int): Partial =
      Partial(new Array[Long](k), new Array[Double](k), Array.fill(k)(Array.emptyLongArray))
  }

  /** The Lloyd loop behind [[fit]], [[fitExact]] and PQ training
    * (`Similarity.pqTrain`: one model per subspace), MLlib's RDD shape
    * with graft's kernels, on the skeleton it shares with
    * `Similarity.graphSearch` ([[graft.util.Jobs.persisted]],
    * [[graft.util.Jobs.roundJob]]):
    *  - the points are read ONCE through the plan's `toRdd` into one
    *    array of vectors per partition (null for a null vector),
    *    persisted and coalesced to ~[[RoundValuesPerTask]] components
    *    per task (inputs big enough to use the cluster stay as they are);
    *  - each round is ONE `mapPartitions…collect` job for all models:
    *    one stage, no shuffle, no plan to analyse. Per model, each
    *    vector's component range goes through [[graft.plans.ArgminKernel]]
    *    (the `vec_argmin` kernel, so the plan's assignments and distances
    *    to the bit) into its cluster's
    *    [[graft.functions.ExactVectorSumAgg]] buffer, read in place (no
    *    slice is copied); the driver merges the partials with the
    *    aggregate's own `merge`/`finish` and divides by n.
    * The loop stops after `maxIter` rounds or once no center of any
    * model moved more than `tol`, so every model runs the same rounds.
    * A round's job is described as `KMeansNative.<name> round
    * i/maxIter`; the caller's job description is restored on exit. */
  private[graft] def lloyd(name: String, points: DataFrame, vecCol: String,
                           models: Seq[Model], maxIter: Int, tol: Double): Seq[FitResult] = {
    val ms = models.toArray
    val read = points.select(VectorOps.toDouble(col(vecCol))).queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(
        rows.map(r => if (r.isNullAt(0)) null else r.getArray(0).copy()).toArray))
    persisted(read, s"KMeansNative.$name points") { parts =>
      val n = roundJob(parts, s"KMeansNative.$name points")(_.map(_.length.toLong).sum).sum
      val ideal = math.max(1L, n * ms.map(_.dim).sum / RoundValuesPerTask)
      val work = if (ideal < parts.getNumPartitions) parts.coalesce(ideal.toInt) else parts
      val agg = new ExactVectorSumAgg
      var centers = ms.map(_.init.map(_.clone()))
      val history = ms.map(_ => scala.collection.mutable.ArrayBuffer.empty[Double])
      var iter = 0
      var moved = Double.PositiveInfinity
      while (iter < maxIter && !(moved <= tol)) {
        val flats = centers.map(_.flatten)
        val total = roundJob(work, s"KMeansNative.$name round ${iter + 1}/$maxIter")(
            roundPartials(_, ms, flats))
          .foldLeft(ms.map(m => Partial.empty(m.k))) { (a, b) =>
            for (j <- a.indices; c <- 0 until ms(j).k) {
              a(j).n(c) += b(j).n(c); a(j).w(c) += b(j).w(c)
              a(j).s(c) = agg.merge(a(j).s(c), b(j).s(c))
            }
            a
          }
        val next = centers.map(_.map(_.clone()))
        for (j <- total.indices) {
          history(j) += total(j).w.sum
          for (c <- 0 until ms(j).k if total(j).n(c) > 0) {
            val count = total(j).n(c).toDouble
            next(j)(c) = agg.finish(total(j).s(c)).zipWithIndex.map { case (s, d) =>
              if (s == null) throw new IllegalStateException(
                s"$name: cluster $c has only null coordinates in component ${ms(j).from + d}")
              s / count
            }.toArray
          }
        }
        moved = centers.iterator.zip(next.iterator).flatMap { case (o, nw) =>
          o.iterator.zip(nw.iterator).map { case (oc, nc) =>
            math.sqrt(oc.zip(nc).map { case (a0, b0) => (a0 - b0) * (a0 - b0) }.sum)
          }
        }.foldLeft(0.0)(math.max)
        centers = next
        iter += 1
      }
      centers.indices.map(j => FitResult(centers(j), history(j).toSeq, iter))
    }
  }

  /** One task of a round: per model, assign each vector's component
    * range and accumulate its cluster. The models run one after the
    * other over the task's vectors, each with its fields in locals, so
    * a one-model loop ([[fit]], [[fitExact]]) runs the same inner loop
    * as a loop written for one model. */
  private def roundPartials(arrays: Iterator[Array[ArrayData]], ms: Array[Model],
                            flats: Array[Array[Double]]): Array[Partial] = {
    val agg = new ExactVectorSumAgg
    val vectors = arrays.toArray
    ms.indices.toArray.map { j =>
      val m = ms(j)
      val (from, k, dim, flat) = (m.from, m.k, m.dim, flats(j))
      val p = Partial.empty(k)
      vectors.foreach(_.foreach { v =>
        if (v != null && m.reads(v.numElements())) {
          val best = ArgminKernel.compute(v, from, flat, k, dim)
          val c = best.getInt(0)
          p.n(c) += 1
          p.w(c) += best.getDouble(1)
          p.s(c) = agg.reduceArray(p.s(c), v, from, dim)
        }
      })
      p
    }
  }

  /** Total within-cluster sum of squares for fixed centers
    * (deterministic via the decimal bridge). */
  def wcss(points: DataFrame, vecCol: String, centers: Array[Array[Double]]): Double =
    assigned(points.select(VectorOps.toDouble(col(vecCol)).as("v")), col("v"), centers)
      .agg(sum(col("sqdist").cast("decimal(38,12)")).cast("double"))
      .collect()(0).getDouble(0)
}
