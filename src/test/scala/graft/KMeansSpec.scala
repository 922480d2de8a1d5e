package graft

import org.apache.spark.sql.functions._

import graft.cluster.{KMeansMl, KMeansNative}
import graft.functions.VectorOps
import graft.io.Tables
import graft.queries.KMeansQueries

class KMeansSpec extends SparkSpec {

  private lazy val pts = Tables.embeddings(spark, sf001)
    .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    .cache()
  private lazy val init = KMeansNative.firstKCenters(pts, "vec_id", "v", 10)
  private def bits(c: Array[Array[Double]]): Seq[Seq[Long]] =
    c.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq
  /** (cluster_id, dim, value bits, n) rows of an accumulate/average
    * frame, value null-safe. */
  private def rowBits(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Option[Long], Long)] =
    df.collect().map { r =>
      (r.getInt(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
        r.getLong(3))
    }.toSet
  private def withConf[T](kv: (String, String))(f: => T): T = {
    val prev = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try f finally prev.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }
  private lazy val fit = KMeansNative.fit(pts, "v", init, maxIter = 10, tol = 0.0)
  // Lloyd's on this data converges (assignment fixpoint) in ~11 rounds.
  private lazy val converged = KMeansNative.fit(pts, "v", init, maxIter = 40, tol = 1e-12)

  test("firstK init returns k centers of the right dim") {
    assert(init.length === 10)
    assert(init.forall(_.length === 64))
  }

  test("every point is assigned to its true argmin with lowest-id tie-break") {
    val got = KMeansNative.assigned(pts, col("v"), init)
      .select("vec_id", "cluster_id", "sqdist").collect()
    val vecs = pts.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    got.foreach { r =>
      val v = vecs(r.getLong(0))
      val dists = init.map(c => v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      val best = dists.zipWithIndex.minBy { case (d, i) => (d, i) }
      assert(r.getInt(1) === best._2, s"vec ${r.getLong(0)}")
      assert(math.abs(r.getDouble(2) - best._1) < 1e-9)
    }
  }

  test("compiled argmin kernel is bit-equal to the literal array_min formulation") {
    val (cidK, dK) = KMeansNative.argminColumns(col("v"), init)
    val (cidL, dL) = KMeansNative.argminColumnsLiteral(col("v"), init)
    // exact equality on BOTH fields — same (x−y)² left-to-right sums,
    // same lowest-cid tie-break; <=> is null-safe
    val diff = pts.select(cidK.as("ck"), dK.as("dk"), cidL.as("cl"), dL.as("dl"))
      .filter(!(col("ck") <=> col("cl")) || !(col("dk") <=> col("dl")))
    assert(diff.count() === 0)
    // dimension mismatch -> null fields on both paths' consumers: the
    // kernel nulls the struct, the literal path nulls each distance
    import spark.implicits._
    val bad = Seq(Array(1.0, 2.0)).toDF("v")
    val r = bad.select(KMeansNative.argminColumns(col("v"), init)._2.as("d")).collect()
    assert(r(0).isNullAt(0))
  }

  test("WCSS is non-increasing across Lloyd iterations") {
    val h = fit.wcssHistory
    assert(h.nonEmpty)
    h.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-6, s"WCSS increased: $h")
      case _ =>
    }
  }

  test("converged fit is a fixpoint: one more iteration moves nothing") {
    assert(converged.iterations < 40, "did not converge within 40 iterations")
    val again = KMeansNative.fit(pts, "v", converged.centers, maxIter = 1, tol = 0.0)
    val moved = converged.centers.zip(again.centers).map { case (a, b) =>
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    }.max
    assert(moved < 1e-9, s"centers moved $moved after convergence")
  }

  test("centroid of a singleton cluster equals the point") {
    import spark.implicits._
    val one = Seq((1L, Array(1.0, 2.0)), (2L, Array(100.0, 100.0))).toDF("vec_id", "v")
    val r = KMeansNative.fit(one, "v", Array(Array(0.0, 0.0), Array(99.0, 99.0)), maxIter = 3)
    assert(r.centers(0) === Array(1.0, 2.0))
    assert(r.centers(1) === Array(100.0, 100.0))
  }

  test("native converged WCSS is within 10% of MLlib's (same k)") {
    val mlModel = KMeansMl.fit(pts, "v", 10, seed = 42, maxIter = 20)
    val mlCenters = mlModel.clusterCenters.map(_.toArray)
    val nativeW = KMeansNative.wcss(pts, "v", converged.centers)
    val mlW = KMeansNative.wcss(pts, "v", mlCenters)
    assert(nativeW <= mlW * 1.10, s"native=$nativeW ml=$mlW")
  }

  test("Lloyd's improves WCSS substantially over the initial centers") {
    // The fixture embeddings have weak label separability (verified:
    // even ground-truth-label-means init converges to purity 0.27), so
    // the invariant is WCSS improvement, not label recovery.
    val initW = KMeansNative.wcss(pts, "v", init)
    val finalW = converged.wcssHistory.last
    assert(finalW < initW * 0.9, s"init=$initW final=$finalW")
  }

  test("fitExact is bit-deterministic across partitionings and tracks fit") {
    val a = KMeansNative.fitExact(pts, "v", init, iters = 5)
    val b = KMeansNative.fitExact(pts.repartition(7), "v", init, iters = 5)
    // exact sums make the trajectory partition-invariant to the BIT —
    // this is what licenses the unrolled DuckDB oracle
    assert(bits(a) === bits(b))
    // the double-summing fast path agrees to float tolerance
    val fast = KMeansNative.fit(pts, "v", init, maxIter = 5, tol = 0.0)
    a.zip(fast.centers).foreach { case (ce, cf) =>
      ce.zip(cf).foreach { case (x, y) => assert(math.abs(x - y) < 1e-8) }
    }
    // ... and bit-equal to the exploded DECIMAL(38,12) round that
    // defines it, as are accumulate and average, over both fixture
    // scales, three k, 1/7/37 partitions, AQE off, and coordinates
    // scaled past the exact conversion's fast path
    val sf1 = new java.io.File(sf01).toPath.resolveSibling("sf0.1").toString
    for (dir <- Seq(sf01, sf1); scale <- Seq(1.0, 1234.5678)) {
      val base = Tables.embeddings(spark, dir).select(col("vec_id"),
        transform(VectorOps.toDouble(col("embedding")), x => x * lit(scale)).as("v")).cache()
      try for (k <- Seq(3, 10, 37)) {
        val at = s"$dir scale=$scale k=$k"
        val kInit = KMeansNative.firstKCenters(base, "vec_id", "v", k)
        val ref = bits(LegacyLloyd.fitExact(base, "v", kInit, iters = 4))
        val assignedRef = KMeansNative.assigned(base, col("v"), kInit)
        val accRef = rowBits(LegacyLloyd.accumulate(assignedRef, col("v")))
        val avgRef = rowBits(LegacyLloyd.average(assignedRef, col("v")))
        def check(df: org.apache.spark.sql.DataFrame, how: String): Unit = {
          assert(bits(KMeansNative.fitExact(df, "v", kInit, iters = 4)) === ref, s"fitExact $at $how")
          val acc = KMeansNative.accumulate(KMeansNative.assigned(df, col("v"), kInit), col("v"))
          assert(rowBits(acc) === accRef, s"accumulate $at $how")
          assert(rowBits(KMeansNative.average(acc)) === avgRef, s"average $at $how")
        }
        check(base, "as read")
        Seq(1, 7, 37).foreach(p => check(base.repartition(p), s"repartition($p)"))
        withConf("spark.sql.adaptive.enabled" -> "false")(check(base.repartition(7), "AQE off"))
      } finally base.unpersist()
    }
  }

  test("declared kmeans queries return deterministic, non-empty output") {
    KMeansQueries.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf001)
      assert(df.count() > 0, name)
    }
  }
}
