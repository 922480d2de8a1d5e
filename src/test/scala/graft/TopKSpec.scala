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

  // rows PQ cannot encode (a null vector, a 3-dim one: null sqdist,
  // ranked first) and a NaN component, which PQ encodes
  private val Unencodable = Seq(
    (910L, null: Array[Double]),
    (911L, Array(1.0, 0.5, -1.0)),
    (912L, Array(Double.NaN, 1.0, 0.0, 0.5)))

  /** `n` seeded rows (plus the planted ones and `extra`) over `slices`
    * partitions, so small `n` leaves partitions empty; labels in 0..2. */
  private def corpus(seed: Int, n: Int, slices: Int,
                     extra: Seq[(Long, Array[Double])] = Nil)
      : (DataFrame, Seq[(Long, Int, Array[Double])]) = {
    val r = new scala.util.Random(seed)
    val rows = (0 until n).map(i =>
      (i.toLong, r.nextInt(3), Array.fill(Dim)(Alphabet(r.nextInt(Alphabet.length))))) ++
      (Planted ++ extra).map { case (id, v) => (id, r.nextInt(3), v) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, l, v) => Row(id, l, Option(v).map(_.toSeq).orNull) }, slices), schema)
    (df, rows)
  }

  /** A hand-built IVF index over `rows`: cell 3's center is far from
    * every row and no row is assigned to it, so the query (40, 40, 40,
    * 40) probes only that cell at nProbe 1. */
  private def handIndex(rows: Seq[(Long, Int, Array[Double])], seed: Int): Similarity.IvfIndex = {
    val centers = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 1.0), Array(50.0, 50.0, 50.0, 50.0))
    val r = new scala.util.Random(seed)
    val cellOf = rows.map { case (id, _, _) => id -> r.nextInt(3) }.toMap
    val cells = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, _, v) => Row(id, Option(v).map(_.toSeq).orNull, cellOf(id)) }, 4),
      StructType(Seq(StructField("id", LongType), StructField("v", ArrayType(DoubleType)),
        StructField("cell", IntegerType))))
    Similarity.IvfIndex(centers, cells)
  }
  private val EmptyCellQuery = (6000L, 0, Array(40.0, 40.0, 40.0, 40.0))

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
    for (seed <- Seeds) {
      val (df, rows) = corpus(seed, 30, 5)
      val index = handIndex(rows, seed)
      val labeled = Similarity.withLabels(index, df, "vec_id", "label")
      val lq = queries(rows, seed) :+ EmptyCellQuery
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

  test("PQ top-k operators equal the window formulation, unencodable rows included") {
    // m = 2 subspaces of 2; a repeated codeword (the lower code wins
    // the tie) and −0.0 in the hand-given books
    val handBooks = Array(
      Array(Array(0.0, 0.0), Array(1.0, -1.0), Array(1.0, -1.0), Array(0.5, 2.0)),
      Array(Array(-0.0, 1.0), Array(2.0, 0.0), Array(0.0, 0.0)))
    // a NaN query scores NaN everywhere (ranked last); a 3-dim one null
    val odd = Array((5003L, Array(Double.NaN, 0.0, 1.0, 0.0)), (5004L, Array(1.0, 0.0, 0.5)))
    for (seed <- Seeds) {
      val (plain, plainRows) = corpus(seed, 30, 3)
      val (df, rows) = corpus(seed, 30, 3, Unencodable)
      val trained = Similarity.pqTrain(plain, "vec_id", "embedding", 2, 4, 3)
      val q = queries(plainRows, seed).map { case (id, _, v) => (id, v) }
      val index = handIndex(rows, seed)
      for (cb <- Seq(trained, handBooks)) {
        val codes = Similarity.encodePq(df, "vec_id", "embedding", cb)
        val nullCodes = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(7000L, null)), 1),
          StructType(codes.schema.map(_.copy(nullable = true))))
        val pqIndex = Similarity.PqIndex(cb, codes.union(nullCodes))
        for (k <- Ks; empty <- Seq(false, true)) {
          val qs = if (empty) Array.empty[(Long, Array[Double])] else q ++ odd
          val at = s"seed $seed books ${if (cb eq trained) "trained" else "hand"} k $k " +
            s"Q ${qs.length}"
          assertSame(Similarity.pqTopK(df, "vec_id", "embedding", qs, k, 2, codebooks = Some(cb)),
            LegacyTopK.pqTopK(df, "vec_id", "embedding", qs, k, 2, cb), s"pqTopK $at")
          assertSame(Similarity.pqProbe(pqIndex, qs, k), LegacyTopK.pqProbe(pqIndex, qs, k),
            s"pqProbe $at")
          val ivfQs = if (empty) qs else q :+ ((EmptyCellQuery._1, EmptyCellQuery._3))
          for (nProbe <- Seq(1, 2))
            assertSame(Similarity.probePq(index, cb, ivfQs, k, nProbe),
              LegacyTopK.probePq(index, cb, ivfQs, k, nProbe), s"probePq $at nProbe $nProbe")
        }
        // the cases above do occur: null and NaN scores are ranked
        for (out <- Seq(Similarity.pqTopK(df, "vec_id", "embedding", q ++ odd, 50, 2,
            codebooks = Some(cb)), Similarity.pqProbe(pqIndex, q ++ odd, 50))) {
          val scores = rendered(out).map(_.split('|').last).toSet
          assert(scores("null") && scores("NaN"), s"seed $seed: $scores")
        }
      }
    }
  }

  test("pqProbe fails on a stored code outside its codebook") {
    val cb = Array(Array(Array(0.0, 0.0), Array(1.0, 1.0)), Array(Array(0.0, 0.0)))
    for (bad <- Seq(Seq(0, 1), Seq(2, 0), Seq(-2, 0), Seq(0))) {
      val codes = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row(1L, bad), Row(2L, Seq(0, 0))), 1),
        StructType(Seq(StructField("id", LongType), StructField("codes", ArrayType(IntegerType)))))
      intercept[org.apache.spark.SparkException](
        Similarity.pqProbe(Similarity.PqIndex(cb, codes), Array((9L, Array(0.0, 0.0, 0.0, 0.0))), 2))
    }
  }

  test("LSH top-k and radius equal the old bucket-join plans, a NaN cosine passing the radius") {
    for (seed <- Seeds; (n, slices) <- Seq((30, 3), (6, 12))) {
      val (df, rows) = corpus(seed, n, slices)
      val q = queries(rows, seed).distinctBy(_._1).map { case (id, _, v) => (id, v) }
      for (tables <- Seq(1, 8); bits <- Seq(2, 4)) {
        val at = s"seed $seed n $n slices $slices tables $tables bits $bits"
        for (k <- Ks)
          assertSame(Similarity.lshTopK(df, "vec_id", "embedding", q, k, tables, bits, seed),
            LegacyTopK.lshTopK(df, "vec_id", "embedding", q, k, tables, bits, seed),
            s"lshTopK $at k $k")
        for (minCosine <- Seq(-1.0, -0.0, 0.0, 0.5, Double.NaN)) {
          val got = Similarity.lshRadius(df, "vec_id", "embedding", q, minCosine, tables, bits, seed)
          assertSame(got,
            LegacyTopK.lshRadius(df, "vec_id", "embedding", q, minCosine, tables, bits, seed),
            s"lshRadius $at minCosine $minCosine")
          // the zero query 5001 shares the all-ones bucket with the zero
          // row 903: its cosine is 0/0
          assert(rendered(got).exists(_.endsWith("|NaN")), s"no NaN cosine: $at")
        }
      }
    }
  }

  test("LSH rejects a query batch that repeats a query id") {
    val (df, _) = corpus(1, 10, 2)
    val q = Array((5002L, Array(0.5, -1.0, 2.0, 0.0)), (5002L, Array(-1.0, 1.0, 0.0, 0.5)))
    intercept[IllegalArgumentException](Similarity.lshTopK(df, "vec_id", "embedding", q, 3))
    intercept[IllegalArgumentException](Similarity.lshRadius(df, "vec_id", "embedding", q, 0.0))
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
    // 16 codebooks of 4-dim codewords, the query vectors' slices
    val books = Array.tabulate(16)(j => q.map(_._2.slice(4 * j, 4 * j + 4)))
    val pqIndex = Similarity.PqIndex(books, Similarity.encodePq(emb, "vec_id", "embedding", books))
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
        (() => Similarity.knnClassifyIvf(labeled, emb, "vec_id", "label", lq, 7)),
      "lshTopK" -> (() => Similarity.lshTopK(emb, "vec_id", "embedding", q, 5)),
      "pqTopK" -> (() => Similarity.pqTopK(emb, "vec_id", "embedding", q, 5, 16,
        codebooks = Some(books))),
      "pqProbe" -> (() => Similarity.pqProbe(pqIndex, q, 5)),
      "probePq" -> (() => Similarity.probePq(index, books, q, 5)))
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
      // the lazy member: no job when called, and a plan with no join
      // and no exchange
      descriptions.clear()
      val radius = try {
        sc.setJobGroup(group, "caller's description")
        Similarity.lshRadius(emb, "vec_id", "embedding", q, 0.3)
      } finally sc.clearJobGroup()
      org.apache.spark.GraftSparkShims.drainListenerBus(sc)
      assert(descriptions.isEmpty, "lshRadius")
      val plan = radius.queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Exchange"), s"lshRadius:\n$plan")
      assert(radius.count() > 0, "lshRadius")
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
