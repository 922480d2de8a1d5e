package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorOps
import graft.io.Tables
import graft.operators.Similarity
import graft.queries.SimilarityQueries

/** [[Similarity.graphSearch]]'s round loop against its per-round plan
  * formulation ([[LegacyGraphSearch]]), and the shape of its jobs. */
class GraphSearchSpec extends SparkSpec {

  private val Dim = 4
  // a small component alphabet makes score ties common; −0.0 and 0.0
  // are both in it, and no drawn vector is all zeros
  private val Alphabet = Array(-1.0, -0.0, 0.0, 0.5, 1.0, 2.0)
  private val Tiny = Double.MinPositiveValue
  private val Axis = 5000L
  private val EntryLess = 5001L
  private val Missing = 9999L
  // against the axis query (1, 0, 0, 0): 900 scores 0.0, 901 +0.0 and
  // 902 −0.0 (both by underflow), 903 NaN (a NaN component), 904 null
  // (a 3-dim vector), 905 null (a null vector)
  private val Planted: Seq[(Long, Array[Double])] = Seq(
    900L -> Array(0.0, 3.0, 0.0, 0.0),
    901L -> Array(Tiny, 4.0, 0.0, 0.0),
    902L -> Array(-Tiny, 4.0, 0.0, 0.0),
    903L -> Array(Double.NaN, 1.0, 0.0, 0.0),
    904L -> Array(1.0, 1.0, 1.0),
    905L -> null)

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType))))
  private val edgeSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("neighbor_id", LongType)))

  /** `n` seeded vectors plus the planted ones over three partitions,
    * two seeded out-edges per node (some to [[Missing]], a node with
    * no vector) and the planted nodes linked to node 0. */
  private def graph(seed: Int, n: Int, extra: Seq[(Long, Array[Double])] = Nil)
      : (DataFrame, DataFrame, Seq[Long]) = {
    val r = new scala.util.Random(seed)
    def draw(): Array[Double] = {
      val v = Array.fill(Dim)(Alphabet(r.nextInt(Alphabet.length)))
      if (v.forall(_ == 0.0)) draw() else v
    }
    val rows = (0 until n).map(i => i.toLong -> draw()) ++ Planted ++ extra
    val ids = rows.map(_._1)
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, if (v == null) null else v.toSeq) }, 3), embSchema)
    val out = ids.flatMap(id => Seq.fill(2)(
      if (r.nextInt(10) == 0) Missing else ids(r.nextInt(ids.size))).map(nb => (id, nb))) ++
      (Planted ++ extra).map { case (id, _) => (0L, id) }
    val edges = spark.createDataFrame(spark.sparkContext.parallelize(
      out.map { case (a, b) => Row(a, b) }, 2), edgeSchema)
    (emb, edges, ids)
  }

  /** Queries: some corpus nodes (self-exclusion), the axis query and
    * one query without entries; entries: two seeded nodes per query,
    * the planted nodes and [[Missing]] for the axis query, and one
    * entry of an unknown query id. */
  private def batch(seed: Int, ids: Seq[Long], emb: DataFrame)
      : (Array[(Long, Array[Double])], DataFrame) = {
    val r = new scala.util.Random(seed)
    val vecs = emb.collect().map(row => row.getLong(0) -> row.getSeq[Double](1)).toMap
    val picked = Seq.fill(3)(ids(r.nextInt(ids.size - Planted.size)))
      .distinct.map(id => id -> vecs(id).toArray)
    val qs = (picked :+ (Axis -> Array(1.0, 0.0, 0.0, 0.0)) :+
      (EntryLess -> Array(0.5, -1.0, 2.0, 0.0))).toArray
    val entries = qs.toSeq.filter(_._1 != EntryLess).flatMap { case (q, _) =>
      Seq.fill(2)((q, ids(r.nextInt(ids.size))))
    } ++ Planted.map { case (id, _) => (Axis, id) } ++ Seq((Axis, Missing), (77777L, 1L))
    import spark.implicits._
    (qs, entries.toDF("query_id", "node"))
  }

  private def rendered(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, what)
    assert(rendered(got) === rendered(want), what)
  }

  private val Filters = Seq("none" -> lit(true),
    "node % 3" -> (pmod(col("node"), lit(3L)) =!= 0),
    "tombstones" -> !col("node").isInCollection(Seq(1L, 2L, 900L, 901L)))

  test("graphSearch equals the per-round plan search row for row") {
    for (seed <- Seq(1, 2, 3)) {
      val (emb, edges, ids) = graph(seed, 40)
      val (qs, entries) = batch(seed, ids, emb)
      for ((beam, rounds, k) <- Seq((1, 1, 1), (3, 3, 4), (2, 2, 50));
           (fname, filter) <- Filters) {
        val at = s"seed $seed beam $beam rounds $rounds k $k filter $fname"
        assertSame(
          Similarity.graphSearch(edges, emb, "vec_id", "embedding", qs, entries, k, beam,
            rounds, emitFilter = filter),
          LegacyGraphSearch.graphSearch(edges, emb, "vec_id", "embedding", qs, entries, k,
            beam, rounds, emitFilter = filter), at)
      }
      // a batch without entries is the typed empty frame
      val none = entries.filter(lit(false))
      assertSame(Similarity.graphSearch(edges, emb, "vec_id", "embedding", qs, none, 3, 2, 2),
        LegacyGraphSearch.graphSearch(edges, emb, "vec_id", "embedding", qs, none, 3, 2, 2),
        s"seed $seed no entries")
    }
  }

  test("graphSearch rejects a batch that repeats a query id") {
    val (emb, edges, ids) = graph(5, 20)
    val (qs, entries) = batch(5, ids, emb)
    val e = intercept[IllegalArgumentException](Similarity.graphSearch(edges, emb, "vec_id",
      "embedding", qs :+ qs.head, entries, 3, 2, 2))
    assert(e.getMessage.contains("query ids must be distinct"))
  }

  test("graphSearch: a zero denominator fails or scores null as Spark's Divide does") {
    val (emb, edges, ids) = graph(4, 20, extra = Seq(906L -> Array(0.0, -0.0, 0.0, 0.0)))
    val (qs, entries0) = batch(4, ids, emb)
    def run(search: => DataFrame) = search.collect()
    import spark.implicits._
    // the zero vector 906 is an entry of the axis query; the zero
    // query 6000 enters at node 1
    val entries = entries0.union(Seq((Axis, 906L)).toDF("query_id", "node"))
    val zeroQuery = qs :+ (6000L -> Array(0.0, 0.0, 0.0, 0.0))
    val zeroEntries = entries0.union(Seq((6000L, 1L)).toDF("query_id", "node"))
    for ((q, e) <- Seq((qs, entries), (zeroQuery, zeroEntries))) {
      assert(conditionOf(run(Similarity.graphSearch(edges, emb, "vec_id", "embedding",
          q, e, 5, 2, 2))) === "DIVIDE_BY_ZERO")
      assert(conditionOf(run(LegacyGraphSearch.graphSearch(edges, emb, "vec_id",
          "embedding", q, e, 5, 2, 2))) === "DIVIDE_BY_ZERO")
    }
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      for ((q, e) <- Seq((qs, entries), (zeroQuery, zeroEntries)))
        assertSame(Similarity.graphSearch(edges, emb, "vec_id", "embedding", q, e, 5, 2, 2),
          LegacyGraphSearch.graphSearch(edges, emb, "vec_id", "embedding", q, e, 5, 2, 2),
          s"ANSI off, ${q.length} queries")
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("graphSearchBulk at two chunk sizes equals the per-round plan search on sf0.01") {
    val emb = Tables.embeddings(spark, sf01)
    val settled = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val newBatch = emb.filter(pmod(col("vec_id"), lit(5)) === 0 && col("vec_id") < 200)
    val idx = Similarity.buildIndex(settled, "vec_id", "embedding", nCells = 8)
    try {
      val edges = Similarity.knnGraphWithin(idx.cells, 3)
      def entriesOf(chunk: Array[(Long, Array[Double])]) =
        Similarity.probe(idx, chunk, 4, nProbe = 1)
          .select(col("query_id"), col("neighbor_id").as("node"))
      val qs = newBatch.select(col("vec_id"), VectorOps.toDouble(col("embedding")))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val want = LegacyGraphSearch.graphSearch(edges, settled, "vec_id", "embedding", qs,
        entriesOf(qs), SimilarityQueries.GraphK, 4, 2)
      for (chunkQ <- Seq(7, Int.MaxValue)) {
        val got = Similarity.graphSearchBulk(edges, settled, "vec_id", "embedding",
          newBatch, "vec_id", "embedding", entriesOf _, SimilarityQueries.GraphK, 4, 2,
          chunkQ = chunkQ)
        assert(rendered(got) === rendered(want), s"chunkQ $chunkQ")
      }
      assert(rendered(want).nonEmpty)
    } finally idx.unpersist()
  }

  test("a graph search is rounds + 1 shuffle-free jobs described by their round") {
    val qv = Tables.embeddings(spark, sf01).orderBy("vec_id").limit(SimilarityQueries.Q)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val edges = SimilarityQueries.refinedEdges(spark, sf01)
    import spark.implicits._
    val entries = Similarity.probe(SimilarityQueries.ivfIndex(spark, sf01), qv,
        SimilarityQueries.SearchBeam, nProbe = 1)
      .select(col("query_id"), col("neighbor_id")).as[(Long, Long)].collect().toSeq
      .toDF("query_id", "node")
    val emb = Tables.embeddings(spark, sf01)
    val rounds = SimilarityQueries.SearchRounds
    val sc = spark.sparkContext
    val group = "graph-search-shape"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          descriptions.add(String.valueOf(j.properties.getProperty("spark.job.description")))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) shuffleBytes.addAndGet(
          t.taskMetrics.shuffleWriteMetrics.bytesWritten +
            t.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    val out = try {
      sc.setJobGroup(group, "caller's description")
      val df = Similarity.graphSearch(edges, emb, "vec_id", "embedding", qv, entries,
        SimilarityQueries.K, SimilarityQueries.SearchBeam, rounds,
        emitFilter = pmod(col("node"), lit(7L)) =!= 0)
      assert(sc.getLocalProperty("spark.job.description") === "caller's description")
      org.apache.spark.GraftSparkShims.drainListenerBus(sc)
      df
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(descriptions.asScala.toSeq ===
      (0 to rounds).map(i => s"Similarity.graphSearch round $i/$rounds"))
    assert(shuffleBytes.get === 0L)
    assert(sc.getPersistentRDDs.keySet === persistedBefore)
    assert(out.rdd.getNumPartitions === 1)
    assert(out.count() > 0)
  }
}
