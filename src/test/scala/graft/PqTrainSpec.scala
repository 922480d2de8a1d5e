package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cluster.KMeansNative
import graft.functions.VectorOps
import graft.io.Tables
import graft.operators.Similarity
import graft.queries.SimilarityQueries.{PqCodes, PqIters, PqM}

/** [[Similarity.pqTrain]]'s one m-model Lloyd loop against the
  * per-subspace first-k init + [[KMeansNative.fitExact]] loop it
  * replaced. */
class PqTrainSpec extends SparkSpec {

  /** The per-subspace training loop: slice, first-k init, fitExact. */
  private def perSubspace(embs: DataFrame, m: Int, kCodes: Int,
                          iters: Int): Array[Array[Array[Double]]] = {
    val p = embs.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val dim = p.select(size(col("v"))).first.getInt(0)
    val sub = dim / m
    Array.tabulate(m) { j =>
      val sv = p.select(col("vec_id"), slice(col("v"), j * sub + 1, sub).as("v"))
      KMeansNative.fitExact(sv, "v", KMeansNative.firstKCenters(sv, "vec_id", "v", kCodes),
        iters)
    }
  }

  /** Codebooks as bit patterns, so −0.0 and NaN compare exactly. */
  private def bits(cb: Array[Array[Array[Double]]]): Seq[Seq[Seq[Long]]] =
    cb.toSeq.map(_.toSeq.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)))

  /** The fixture's embeddings plus, at high ids, a short vector (42 of
    * 64 components: it joins the first 10 subspaces only), a null
    * vector and a vector with a null element. */
  private def planted(dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("embedding"))
    val r = new scala.util.Random(5)
    val withNull: Seq[java.lang.Double] =
      Seq.tabulate(64)(i => if (i == 5) null else java.lang.Double.valueOf(r.nextGaussian()))
    val extra = Seq(
      Row(1000001L, Seq.fill(42)(r.nextGaussian())),
      Row(1000002L, null),
      Row(1000003L, withNull))
    emb.union(spark.createDataFrame(extra.asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType))))))
  }

  test("pqTrain codebooks equal the per-subspace fitExact loop bit for bit") {
    for (dir <- Seq(sf01, "/root/testdata/sf0.1")) {
      val embs = planted(dir)
      val want = bits(perSubspace(embs, PqM, PqCodes, PqIters))
      def got(df: DataFrame) =
        bits(Similarity.pqTrain(df, "vec_id", "embedding", PqM, PqCodes, PqIters))
      assert(got(embs) === want, s"$dir as read")
      for (n <- Seq(1, 7, 37))
        assert(got(embs.repartition(n)) === want, s"$dir repartition($n)")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try assert(got(embs) === want, s"$dir AQE off")
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("pqTrain trains every codebook in iters + 1 loop jobs") {
    val sc = spark.sparkContext
    val group = "pq-train-shape"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          descriptions.add(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    val embs = Tables.embeddings(spark, sf01)
    sc.addSparkListener(listener)
    val cb = try {
      sc.setJobGroup(group, "caller's description")
      val out = Similarity.pqTrain(embs, "vec_id", "embedding", PqM, PqCodes, PqIters)
      assert(sc.getLocalProperty("spark.job.description") === "caller's description")
      org.apache.spark.GraftSparkShims.drainListenerBus(sc)
      out
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(cb.length === PqM && cb.forall(_.length === PqCodes))
    assert(descriptions.asScala.toSeq.filter(_.startsWith("KMeansNative.")) ===
      ("KMeansNative.pqTrain points" +:
        (1 to PqIters).map(i => s"KMeansNative.pqTrain round $i/$PqIters")))
  }
}
