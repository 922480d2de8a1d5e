package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.{KMeansMl, KMeansNative}

/** The `kmeans_lloyd` workload: passes over the generated points, each
  * calling the `graft.cluster` entry points in the paper's order. Each
  * call is checked after its timer stops:
  *  - firstKCenters repeats the first pass bit for bit, and so does
  *    fitExact across measured passes (its decimal-bridge rounds are
  *    deterministic); the first measured fitExact's centers, rounded
  *    like `kmeans_fit_native`, are returned for the DuckDB oracle check
  *    that run.py makes;
  *  - fit (double partial sums) lands within [[CenterTol]] of fitExact
  *    from the same init, and its WCSS history never increases;
  *  - the summed `assigned` distances equal `wcss` to 1e-9;
  *  - the MLlib fit has k centers of the points' dimension and a cost
  *    within the declared `kmeans_fit_ml` band of the native WCSS.
  * `fit` runs with a negative tolerance, so it makes all [[Rounds]]
  * rounds even where a seed's points reach an exact fixpoint earlier;
  * the MLlib fit (whose tolerance must be >= 0) runs with `tol = 0`. */
object KMeansPass {
  val K = 10
  val Rounds = 10
  /** Rounds of each fit in a warm (set-up) pass: enough to compile every
    * code path a measured pass runs. */
  val WarmRounds = 2
  /** fit vs fitExact: absolute center difference per coordinate, over
    * the coordinate scale (1 + max |coord|). Double partial sums differ
    * from the decimal bridge only in the last bits of each round. */
  val CenterTol = 1e-6

  /** `warm` untimed passes (set-up), then `passes` measured ones. */
  def run(spark: SparkSession, rec: Harness.Recorder, dir: String, warm: Int, passes: Int,
          seed: Long): Seq[(String, String)] = {
    def points(): DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = points().count()
    val out = mutable.ArrayBuffer.empty[(String, String)]
    var firstInit: Array[Array[Double]] = null
    var firstExact: Array[Array[Double]] = null
    def same(a: Array[Array[Double]], b: Array[Array[Double]]) =
      a.length == b.length && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) }
    def fail(msg: String): Nothing = throw new IllegalStateException(msg)

    try for (pass <- 0 until warm + passes) {
      val rounds = if (pass < warm) WarmRounds else Rounds
      if (pass == warm) {
        out += "warm_calls" -> rec.calls.size.toString
        out += "setup_end" -> Harness.now().toString
        Driver.mark()
      }
      val init = rec.call("firstKCenters")(points())(
        KMeansNative.firstKCenters(_, "vec_id", "embedding", K)) { c =>
        if (firstInit == null) firstInit = c
        else if (!same(c, firstInit)) fail("firstKCenters differs from pass 1")
        (c.length.toLong, "")
      }.getOrElse(fail("firstKCenters failed"))

      val exact = rec.call("fitExact")(points())(
        KMeansNative.fitExact(_, "embedding", init, rounds)) { c =>
        if (pass < warm) ()
        else if (firstExact == null) {
          firstExact = c
          out += "fit_exact_digest" -> ("\"" + roundedDigest(spark, c) + "\"")
        } else if (!same(c, firstExact)) fail("fitExact differs from the first measured pass")
        (c.length.toLong, "")
      }.getOrElse(fail("fitExact failed"))

      rec.call("fit")(points())(KMeansNative.fit(_, "embedding", init, rounds, tol = -1.0)) { r =>
        val scale = 1.0 + exact.flatten.map(math.abs).max
        val diff = r.centers.zip(exact).flatMap { case (a, b) => a.zip(b).map(p => math.abs(p._1 - p._2)) }.max
        if (diff > CenterTol * scale) fail(s"fit centers differ from fitExact by $diff")
        r.wcssHistory.sliding(2).foreach {
          case Seq(a, b) if b > a * (1 + 1e-12) => fail(s"WCSS rose from $a to $b")
          case _ => ()
        }
        (r.iterations.toLong, "")
      }

      val native = rec.call("assign_wcss")(points()) { p =>
        val a = KMeansNative.assigned(p.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")), col("v"), exact)
          .select("vec_id", "cluster_id", "sqdist").collect()
        (a, KMeansNative.wcss(p, "embedding", exact))
      } { case (a, w) =>
        if (a.length != n) fail(s"assigned ${a.length} of $n points")
        val s = a.map(_.getDouble(2)).sum
        if (math.abs(s - w) > 1e-9 * w) fail(s"sum of sqdist $s differs from wcss $w")
        (a.length.toLong, "")
      }.map(_._2)

      rec.call("fit_ml")(points())(KMeansMl.fit(_, "embedding", K, seed, maxIter = rounds, tol = 0.0)) { m =>
        val c = m.clusterCenters
        if (c.length != K || c.exists(_.size != exact(0).length)) fail("MLlib centers have the wrong shape")
        val cost = m.summary.trainingCost
        native.foreach { w =>
          val band = graft.queries.KMeansQueries.MlWcssBandFactor
          if (cost > w * band || cost < w / band) fail(s"MLlib cost $cost outside the band of $w")
        }
        (c.length.toLong, "")
      }
    } catch { case e: IllegalStateException => System.err.println(s"[perfbench] pass stopped: ${e.getMessage}") }
    out += "oracle_sql" -> ("\"" + Json.esc(graft.SparkEntry.oracleSql("kmeans_fit_native")) + "\"")
    out.toSeq
  }

  /** The centers as `kmeans_fit_native` emits them (same select, same
    * rounding), digested like any query result. */
  private def roundedDigest(spark: SparkSession, centers: Array[Array[Double]]): String = {
    import spark.implicits._
    val df = centers.zipWithIndex.flatMap { case (c, cid) => c.zipWithIndex.map { case (x, d) => (cid, d, x) } }
      .toSeq.toDF("cluster_id", "dim", "coord")
      .select(col("cluster_id"), col("dim"), round(col("coord"), 6).as("coord"))
      .orderBy("cluster_id", "dim")
    Canon.digest(df.collect(), df.schema)
  }
}
