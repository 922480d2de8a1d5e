package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector kernels over `array<double>` columns, built purely from
  * Catalyst higher-order functions (`zip_with` / `aggregate` /
  * `transform`) — no UDFs, so everything stays inside whole-stage
  * codegen and scales linearly with no serialization cost.
  *
  * Reference semantics: the Flink KMeans example's `Point` distance
  * (`Point.euclideanDistance` — see SURVEY.md §2.1 rows 15–16 [R])
  * generalized from fixed (x, y) arity to n-dim arrays; its centroid
  * arithmetic (`Point.add`, `Point.div`) is the exact Lloyd round of
  * [[graft.cluster.KMeansNative]].
  *
  * Determinism note: every kernel folds left-to-right over the array,
  * so the floating-point summation order is fixed per row and matches a
  * sequential oracle evaluation (SURVEY.md §5.2).
  */
object VectorOps {

  /** Cast `array<float>` → `array<double>` so all arithmetic is IEEE
    * double on both Spark and the DuckDB oracle. */
  def toDouble(a: Column): Column = a.cast("array<double>")

  /** Component-wise sum fold: Σ f(a_i, b_i), left-to-right. */
  private def zipFold(a: Column, b: Column)(f: (Column, Column) => Column): Column =
    aggregate(zip_with(a, b, f), lit(0.0d), (acc, v) => acc + v)

  /** Squared Euclidean distance Σ (a_i − b_i)². */
  def sqdist(a: Column, b: Column): Column =
    zipFold(a, b)((x, y) => (x - y) * (x - y))

  /** True Euclidean distance (with sqrt — reference `Point
    * .euclideanDistance` computes the sqrt; argmin paths use [[sqdist]]
    * which needs none). */
  def euclidean(a: Column, b: Column): Column = sqrt(sqdist(a, b))

  /** Dot product Σ a_i·b_i. */
  def dot(a: Column, b: Column): Column = zipFold(a, b)(_ * _)

  /** L2 norm. */
  def norm2(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; NaN-safe only insofar as inputs are non-zero. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm2(a) * norm2(b))

  // ---- driver/executor-side primitive kernels -----------------------
  // The ONLY implementations of these folds: their left-to-right
  // summation order is load-bearing for bit-exact oracle parity, so
  // every mapPartitions kernel must use these, never a local copy.

  /** Left-to-right dot product (matches the HOF `aggregate` fold and
    * DuckDB `list_sum`). */
  def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Left-to-right squared Euclidean distance. */
  def sqdistSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
