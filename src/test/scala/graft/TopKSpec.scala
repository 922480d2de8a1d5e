package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.io.Tables
import graft.operators.Similarity
import graft.queries.SimilarityQueries

/** The one-job top-k operators of [[Similarity]] against their window
  * formulation ([[LegacyTopK]]), and the shape of their one job. */
class TopKSpec extends SparkSpec {

  private val Dim = 4
  // a small component alphabet makes score ties common; −0.0 and 0.0
  // are both in it
  private val Alphabet = Array(-1.0, -0.0, 0.0, 0.5, 1.0, 2.0)
  private val Tiny = Double.MinPositiveValue
  // against the axis query (1, 0, 0, 0) these score −0.0, +0.0 (both by
  // underflow) and 0.0; the −0.0 row has the higher id, so an order
  // that puts −0.0 below 0.0 disagrees with the window's tie-break
  private val Planted = Seq(
    (900L, Array(0.0, 3.0, 0.0, 0.0)),
    (901L, Array(Tiny, 4.0, 0.0, 0.0)),
    (902L, Array(-Tiny, 4.0, 0.0, 0.0)),
    (903L, Array(0.0, 0.0, 0.0, 0.0)))   // zero vector: NaN cosine

  private val schema = StructType(Seq(
    StructField("vec_id", LongType), StructField("label", IntegerType),
    StructField("embedding", ArrayType(DoubleType))))

  /** `n` seeded rows (plus the planted ones) over `slices` partitions,
    * so small `n` leaves partitions empty; labels in 0..2. */
  private def corpus(seed: Int, n: Int, slices: Int): (DataFrame, Seq[(Long, Int, Array[Double])]) = {
    val r = new scala.util.Random(seed)
    val rows = (0 until n).map(i =>
      (i.toLong, r.nextInt(3), Array.fill(Dim)(Alphabet(r.nextInt(Alphabet.length))))) ++
      Planted.map { case (id, v) => (id, r.nextInt(3), v) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, l, v) => Row(id, l, v.toSeq) }, slices), schema)
    (df, rows)
  }

  /** Queries: some corpus rows (self-exclusion), the axis query, a zero
    * vector (all-NaN scores) and one id asked twice. */
  private def queries(rows: Seq[(Long, Int, Array[Double])], seed: Int): Array[(Long, Int, Array[Double])] = {
    val r = new scala.util.Random(seed)
    val picked = if (rows.isEmpty) Seq.empty else Seq.fill(3)(rows(r.nextInt(rows.size)))
    (picked.distinctBy(_._1) ++ Seq(
      (5000L, 1, Array(1.0, 0.0, 0.0, 0.0)),
      (5001L, 2, Array(0.0, 0.0, 0.0, 0.0)),
      (5002L, 0, Array(0.5, -1.0, 2.0, 0.0)),
      (5002L, 1, Array(-1.0, 1.0, 0.0, 0.5)))).toArray
  }

  /** Rows rendered with `String.valueOf`, so −0.0 and NaN stay
    * distinct from 0.0 and from each other. */
  private def rendered(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, what)
    assert(rendered(got) === rendered(want), what)
  }

  private val Seeds = Seq(1, 2, 3)
  private val Ks = Seq(1, 3, 50)

  test("flat top-k operators equal the window formulation row for row") {
    for (seed <- Seeds; (n, slices) <- Seq((30, 3), (6, 12))) {
      val (df, rows) = corpus(seed, n, slices)
      val lq = queries(rows, seed)
      val q = lq.map { case (id, _, v) => (id, v) }
      for (k <- Ks; qs <- Seq(q, Array.empty[(Long, Array[Double])])) {
        val at = s"seed $seed n $n slices $slices k $k Q ${qs.length}"
        assertSame(Similarity.bruteForceTopK(df, "vec_id", "embedding", qs, k),
          LegacyTopK.bruteForceTopK(df, "vec_id", "embedding", qs, k), s"bruteForceTopK $at")
        assertSame(Similarity.mipsTopK(df, "vec_id", "embedding", qs, k),
          LegacyTopK.mipsTopK(df, "vec_id", "embedding", qs, k), s"mipsTopK $at")
        assertSame(Similarity.quantTopK(df, "vec_id", "embedding", qs, k),
          LegacyTopK.quantTopK(df, "vec_id", "embedding", qs, k), s"quantTopK $at")
      }
      for (k <- Ks; qs <- Seq(lq, Array.empty[(Long, Int, Array[Double])])) {
        val at = s"seed $seed n $n slices $slices k $k Q ${qs.length}"
        assertSame(Similarity.hardNegativesTopK(df, "vec_id", "embedding", "label", qs, k),
          LegacyTopK.hardNegativesTopK(df, "vec_id", "embedding", "label", qs, k),
          s"hardNegativesTopK $at")
        assertSame(Similarity.knnClassify(df, "vec_id", "embedding", "label", qs, k),
          LegacyTopK.knnClassify(df, "vec_id", "embedding", "label", qs, k),
          s"knnClassify $at")
      }
    }
  }

  test("IVF top-k operators equal the window formulation, empty probed cells included") {
    // cell 3's center is far from every row and no row is assigned to
    // it: the query (40, 40, 40, 40) probes only that cell at nProbe 1
    val centers = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 1.0), Array(50.0, 50.0, 50.0, 50.0))
    for (seed <- Seeds) {
      val (df, rows) = corpus(seed, 30, 5)
      val r = new scala.util.Random(seed)
      val cellOf = rows.map { case (id, _, _) => id -> r.nextInt(3) }.toMap
      val cells = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map { case (id, _, v) => Row(id, v.toSeq, cellOf(id)) }, 4),
        StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(DoubleType)),
          StructField("cell", IntegerType))))
      val index = Similarity.IvfIndex(centers, cells)
      val labeled = Similarity.withLabels(index, df, "vec_id", "label")
      val lq = queries(rows, seed) :+ ((6000L, 0, Array(40.0, 40.0, 40.0, 40.0)))
      val q = lq.map { case (id, _, v) => (id, v) }
      for (k <- Ks; nProbe <- Seq(1, 2); empty <- Seq(false, true)) {
        val (qs, lqs) = if (empty) (Array.empty[(Long, Array[Double])],
          Array.empty[(Long, Int, Array[Double])]) else (q, lq)
        val at = s"seed $seed k $k nProbe $nProbe Q ${qs.length}"
        assertSame(Similarity.probe(index, qs, k, nProbe),
          LegacyTopK.probe(index, qs, k, nProbe), s"probe $at")
        // the label from a per-call join and from the index's own cells
        for (idx <- Seq(index, labeled)) {
          assertSame(Similarity.hardNegativesIvf(idx, df, "vec_id", "label", lqs, k, nProbe),
            LegacyTopK.hardNegativesIvf(index, df, "vec_id", "label", lqs, k, nProbe),
            s"hardNegativesIvf $at")
          assertSame(Similarity.knnClassifyIvf(idx, df, "vec_id", "label", lqs, k, nProbe),
            LegacyTopK.knnClassifyIvf(index, df, "vec_id", "label", lqs, k, nProbe),
            s"knnClassifyIvf $at")
        }
      }
    }
  }

  test("each top-k operator is one job described by its op; the frame has no exchange") {
    val emb = Tables.embeddings(spark, sf01)
    val index = SimilarityQueries.ivfIndex(spark, sf01)
    val labeledCells = Similarity.withLabels(index, emb, "vec_id", "label").cells.persist()
    labeledCells.count()
    val labeled = index.copy(cells = labeledCells)
    val lq = emb.orderBy("vec_id").limit(10)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val q = lq.map { case (id, _, v) => (id, v) }
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "bruteForceTopK" -> (() => Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)),
      "mipsTopK" -> (() => Similarity.mipsTopK(emb, "vec_id", "embedding", q, 5)),
      "quantTopK" -> (() => Similarity.quantTopK(emb, "vec_id", "embedding", q, 5)),
      "hardNegativesTopK" ->
        (() => Similarity.hardNegativesTopK(emb, "vec_id", "embedding", "label", lq, 5)),
      "knnClassify" ->
        (() => Similarity.knnClassify(emb, "vec_id", "embedding", "label", lq, 7)),
      "probe" -> (() => Similarity.probe(index, q, 5)),
      "hardNegativesIvf" ->
        (() => Similarity.hardNegativesIvf(labeled, emb, "vec_id", "label", lq, 5)),
      "knnClassifyIvf" ->
        (() => Similarity.knnClassifyIvf(labeled, emb, "vec_id", "label", lq, 7)))
    val sc = spark.sparkContext
    val group = "topk-shape"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          descriptions.add(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      for ((op, run) <- ops) {
        descriptions.clear()
        val out = try {
          sc.setJobGroup(group, "caller's description")
          val df = run()
          assert(sc.getLocalProperty("spark.job.description") === "caller's description", op)
          org.apache.spark.GraftSparkShims.drainListenerBus(sc)
          df
        } finally sc.clearJobGroup()
        assert(descriptions.asScala.toSeq === Seq(s"Similarity.$op top-k"), op)
        assert(out.rdd.getNumPartitions === 1, op)
        for (df <- Seq(out, out.orderBy(out.columns.map(col).toSeq: _*))) {
          val plan = df.queryExecution.executedPlan.toString
          assert(!plan.contains("Exchange"), s"$op:\n$plan")
        }
        assert(out.count() > 0, op)
      }
    } finally {
      sc.removeSparkListener(listener)
      labeledCells.unpersist()
    }
  }

  test("sampledTopK equals its window formulation on the fixture and the window's order on ties") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sf01).select(col("vec_id").cast("long").as("id"),
      col("embedding").cast("array<double>").as("v"))
    val xs = base.filter(col("id") % 2 === 0)
    val ys = base.filter(col("id") % 2 === 1)
    val qx = xs.orderBy("id").limit(7).as[(Long, Array[Double])].collect()
    def rows(out: Array[(Long, Long, Double)]) = out.map(String.valueOf).toSeq.sorted
    for (first <- Seq(true, false); k <- Ks) {
      assert(rows(Similarity.sampledTopK(ys, qx, k, first)) ===
        rows(LegacyTopK.sampledTopK(ys, qx, k, first)), s"fixture first $first k $k")
    }
    // the seeded corpus: ±0.0 and NaN scores, ranked exhaustively in
    // the window's order (where the old heaps put −0.0 below 0.0)
    for (seed <- Seeds) {
      val (df, corpusRows) = corpus(seed, 30, 3)
      val c = df.select(col("vec_id").as("id"), col("embedding").as("v"))
      val qs = queries(corpusRows, seed).distinctBy(_._1).map { case (id, _, v) => (id, v) }
      for (first <- Seq(true, false); k <- Ks) {
        val want = qs.flatMap { case (qid, qv) =>
          val qn = math.sqrt(VectorOps.dotSeq(qv, qv))
          corpusRows.map { case (id, _, v) =>
            val n = math.sqrt(VectorOps.dotSeq(v, v))
            val cos = if (first) VectorOps.dotSeq(qv, v) / (qn * n)
              else VectorOps.dotSeq(v, qv) / (n * qn)
            (cos, id)
          }.sortWith { case ((c1, i1), (c2, i2)) =>
            val o = SQLOrderingUtil.compareDoubles(c2, c1)
            o < 0 || (o == 0 && i1 < i2)
          }.take(k).map { case (cos, id) => (qid, id, cos) }
        }
        assert(rows(Similarity.sampledTopK(c, qs, k, first)) === rows(want),
          s"seed $seed first $first k $k")
      }
    }
  }
}
