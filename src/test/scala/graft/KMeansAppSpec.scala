package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.sources.KMeansCsv

class KMeansAppSpec extends SparkSpec {

  test("demo data end-to-end: 3 clusters recovered with original centroid ids") {
    val (clustered, centers) =
      KMeansApp.run(KMeansCsv.demoPoints(spark), KMeansCsv.demoCentroids(spark), 10)
    val rows = clustered.collect()
    assert(rows.length === 30)
    assert(centers.map(_._1).sorted === Array(0, 1, 2))
    // each demo point sits near one base center; the init centroids are
    // adjacent to those bases, so cluster sizes must be 10/10/10.
    val sizes = rows.groupBy(_.getInt(0)).view.mapValues(_.length).toMap
    assert(sizes === Map(0 -> 10, 1 -> 10, 2 -> 10))
  }

  test("csv round-trip: write points, read back, cluster, write output") {
    val dir = Files.createTempDirectory("kmeans-csv").toString
    val pts = KMeansCsv.generatePoints(spark, 300, 3, stddev = 0.5,
      range = 10, seed = 7, numPartitions = 2)
    KMeansCsv.writeCsv(pts, s"$dir/points")
    val read = KMeansCsv.readPoints(spark, s"$dir/points")
    assert(read.count() === 300)
    assert(read.schema.map(_.name) === Seq("x", "y"))

    import spark.implicits._
    val cents = Seq((0, -5.0, -5.0), (1, 0.0, 0.0), (2, 5.0, 5.0)).toDF("id", "x", "y")
    KMeansCsv.writeCsv(cents.select(concat_ws(" ", $"id", $"x", $"y").as("line")), s"$dir/ignore")
    val (clustered, _) = KMeansApp.run(read, cents, 10)
    KMeansCsv.writeCsv(clustered, s"$dir/out")
    val back = KMeansCsv.readCentroids(spark, s"$dir/out")
    assert(back.count() === 300)
    assert(back.select("id").distinct().count() <= 3)
  }

  test("generator is deterministic for fixed seed and partitioning") {
    val a = KMeansCsv.generatePoints(spark, 100, 3, 0.5, 10, seed = 7, numPartitions = 2).collect()
    val b = KMeansCsv.generatePoints(spark, 100, 3, 0.5, 10, seed = 7, numPartitions = 2).collect()
    assert(a.map(r => (r.getDouble(0), r.getDouble(1))).toSeq ===
      b.map(r => (r.getDouble(0), r.getDouble(1))).toSeq)
  }

  test("generateAndWrite emits reference-parity points and centers files") {
    val dir = Files.createTempDirectory("kmeans-gen").toString
    KMeansCsv.generateAndWrite(spark, dir, 200, 3, 0.5, 10, seed = 7)
    val pts = KMeansCsv.readPoints(spark, s"$dir/points")
    val cents = KMeansCsv.readCentroids(spark, s"$dir/centers")
    assert(pts.count() === 200)
    assert(cents.count() === 3)
    assert(cents.select("id").collect().map(_.getInt(0)).sorted === Array(0, 1, 2))
  }

  /** Seeded-random init: k rows chosen by a deterministic hash-rank of
    * the id column (stable across runs and partitionings, unlike
    * `sample`). */
  private def randomCenters(points: DataFrame, idCol: String, vecCol: String,
                            k: Int, seed: Long): Array[Array[Double]] =
    points
      .orderBy(xxhash64(lit(seed), col(idCol)), col(idCol))
      .limit(k)
      .select(VectorOps.toDouble(col(vecCol)))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  test("random init differs from firstK but yields k valid centers") {
    val emb = graft.io.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val r = randomCenters(emb, "vec_id", "v", 10, seed = 7)
    val f = graft.cluster.KMeansNative.firstKCenters(emb, "vec_id", "v", 10)
    assert(r.length === 10 && r.forall(_.length === 64))
    assert(r.map(_.toSeq).toSet !== f.map(_.toSeq).toSet)
    val r2 = randomCenters(emb, "vec_id", "v", 10, seed = 7)
    assert(r.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
  }

  test("arg parsing matches the reference CLI shape") {
    val p = KMeansApp.parseArgs(Array("--points", "/p", "--iterations", "5"))
    assert(p === Map("points" -> "/p", "iterations" -> "5"))
  }
}
