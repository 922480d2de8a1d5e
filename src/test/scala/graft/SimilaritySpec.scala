package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.io.Tables
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf001).cache()
  private lazy val queries = emb.orderBy("vec_id").limit(5)
    .select(col("vec_id"), VectorOps.toDouble(col("embedding")))
    .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  private def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  test("brute-force top-k: correct count, no self matches, ranks contiguous") {
    val r = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5).collect()
    assert(r.length === queries.length * 5)
    r.foreach(row => assert(row.getLong(1) !== row.getLong(0)))
    val ranks = r.groupBy(_.getLong(0)).values.map(_.map(_.getInt(2)).sorted.toSeq)
    ranks.foreach(rs => assert(rs === Seq(1, 2, 3, 4, 5)))
  }

  test("brute-force top-k matches a driver-side exhaustive computation") {
    val all = emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = queries.map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
    val got = topSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5))
    assert(got === expected)
  }

  test("MIPS top-k matches a driver-side exhaustive dot-product ranking") {
    val all = emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0
      for (i <- a.indices) d += a(i) * b(i)
      d
    }
    val expected = queries.map { case (qid, qv) =>
      qid -> all.filter(_._1 != qid)
        .map { case (id, v) => (id, dot(qv, v)) }
        .sortBy { case (id, d) => (-d, id) }.take(5).map(_._1).toSet
    }.toMap
    val got = topSets(Similarity.mipsTopK(emb, "vec_id", "embedding", queries, 5))
    assert(got === expected)
  }

  test("LSH top-k recall vs brute force is >= 0.5 and precision-only candidates") {
    val exact = topSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5))
    val approx = topSets(Similarity.lshTopK(emb, "vec_id", "embedding", queries, 5))
    val hits = exact.map { case (q, s) => (approx.getOrElse(q, Set.empty) & s).size }.sum
    val total = exact.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.5, s"recall $hits/$total")
  }

  test("PQ top-k: recall vs exact euclidean >= 0.3 at 16x compression, codes in range") {
    import graft.queries.SimilarityQueries.{PqM, PqCodes, PqIters}
    // exact EUCLIDEAN top-5 (PQ ranks by sqdist, not cosine — compare
    // like with like), driver-side exhaustive like the brute-force law
    val all: Array[(Long, Array[Double])] =
      emb.select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def d2(a: Array[Double], b: Array[Double]) = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }; s0
    }
    val exact = queries.map { case (q, qv) =>
      q -> all.filter(_._1 != q).map { case (i, v) => (i, d2(qv, v)) }
        .sortBy(x => (x._2, x._1)).take(5).map(_._1).toSet
    }.toMap
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", PqM, PqCodes, PqIters)
    assert(cb.length === PqM && cb.forall(_.length <= PqCodes))
    val pq = topSets(Similarity.pqTopK(emb, "vec_id", "embedding", queries, 5,
      PqM, PqCodes, PqIters, Some(cb)))
    val hits = exact.map { case (q, s0) => (pq.getOrElse(q, Set.empty) & s0).size }.sum
    assert(hits.toDouble / exact.values.map(_.size).sum >= 0.3, s"recall $hits/50")
  }

  test("int8-quantized top-k recall vs exact cosine is >= 0.6") {
    val exact = topSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5))
    val quant = topSets(Similarity.quantTopK(emb, "vec_id", "embedding", queries, 5))
    val hits = exact.map { case (q, s) => (quant.getOrElse(q, Set.empty) & s).size }.sum
    val total = exact.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.6, s"recall $hits/$total")
  }

  test("quantizeInt8: range bounded, zeros fixed, extremes hit ±127") {
    val q = Similarity.quantizeInt8(Array(1.0, -1.0, 0.5, 0.0))
    assert(q(0) === 127L && q(1) === -127L && q(3) === 0L)
    assert(Similarity.quantizeInt8(Array(0.0, 0.0)).toSeq === Seq(0L, 0L))
    val r = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val v = Array.fill(16)(r.nextGaussian() * math.pow(10, r.nextInt(6) - 3))
      assert(Similarity.quantizeInt8(v).forall(x => x >= -127L && x <= 127L))
    }
  }

  /** IVF approximate top-k in one shot: [[Similarity.buildIndex]] +
    * [[Similarity.probe]] with the default build params. */
  private def ivfTopK(embs: org.apache.spark.sql.DataFrame,
                      qs: Array[(Long, Array[Double])], k: Int) =
    Similarity.probe(Similarity.buildIndex(embs, "vec_id", "embedding"), qs, k)

  test("IVF top-k recall vs brute force is >= 0.5 with 4/16 probes") {
    val exact = topSets(Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5))
    val approx = topSets(ivfTopK(emb, queries, 5))
    val hits = exact.map { case (q, s) => (approx.getOrElse(q, Set.empty) & s).size }.sum
    val total = exact.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.5, s"recall $hits/$total")
  }

  test("IVF index builds once and serves repeated probes") {
    val idx = Similarity.buildIndex(emb, "vec_id", "embedding")
    try {
      assert(idx.cells.storageLevel.useMemory, "cell assignment must be persisted")
      val a = Similarity.probe(idx, queries, 5).collect().map(_.toSeq).toSeq
      val b = Similarity.probe(idx, queries, 5).collect().map(_.toSeq).toSeq
      assert(a === b)
      assert(a.nonEmpty)
      // one-shot wrapper agrees with explicit build+probe
      val oneShot = ivfTopK(emb, queries, 5).collect().map(_.toSeq).toSeq
      assert(oneShot === a)
    } finally idx.unpersist()
  }

  test("disk-persisted IVF index: load skips rebuild, probes identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-test")
      .resolve("idx").toString
    val built = Similarity.loadOrBuildIndex(emb, "vec_id", "embedding", dir)
    val marker = new java.io.File(dir, "centers.json")
    assert(marker.exists, "index must persist to disk")
    val mtime = marker.lastModified
    val fromBuild = Similarity.probe(built, queries, 5).collect().map(_.toSeq).toSeq
    built.unpersist()
    val loaded = Similarity.loadOrBuildIndex(emb, "vec_id", "embedding", dir)
    assert(marker.lastModified === mtime, "second call must load, not rebuild")
    assert(loaded.centers.map(_.toSeq).toSeq === built.centers.map(_.toSeq).toSeq)
    val fromLoad = Similarity.probe(loaded, queries, 5).collect().map(_.toSeq).toSeq
    assert(fromLoad === fromBuild)
  }

  test("declared probe-only query reuses the index and serves a disjoint batch") {
    import graft.queries.SimilarityQueries
    val first = SimilarityQueries.ivf(spark, sf001)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    val marker = new java.io.File(graft.operators.Similarity.indexDirFor(
      new java.io.File(Tables.path(sf001, "embeddings")),
      SimilarityQueries.IvfCells, SimilarityQueries.IvfTrainIters,
      SimilarityQueries.IvfTrainSample, SimilarityQueries.IvfSeed), "centers.json")
    assert(marker.exists, "ann_ivf_topk must have persisted the index")
    val mtime = marker.lastModified
    val probeOnly = SimilarityQueries.ivfProbeOnly(spark, sf001)
    val second = probeOnly.select("query_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(marker.lastModified === mtime, "probe-only must not rebuild the index")
    assert(second.nonEmpty && (first & second).isEmpty,
      s"query batches must be disjoint: $first vs $second")
    // full output shape: contiguous ranks per query
    val ranks = probeOnly.collect().groupBy(_.getLong(0))
      .values.map(_.map(_.getInt(2)).sorted.toSeq)
    ranks.foreach(rs => assert(rs === (1 to rs.length)))
  }

  test("probe-only second batch recall vs brute force is >= 0.5") {
    import graft.queries.SimilarityQueries
    val batch2 = Tables.embeddings(spark, sf001).orderBy("vec_id")
      .limit(2 * SimilarityQueries.Q)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().drop(SimilarityQueries.Q)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val exact = topSets(Similarity.bruteForceTopK(
      Tables.embeddings(spark, sf001), "vec_id", "embedding",
      batch2, SimilarityQueries.K))
    val approx = topSets(SimilarityQueries.ivfProbeOnly(spark, sf001))
    val total = exact.values.map(_.size).sum
    val hits = exact.map { case (q, s) =>
      (s & approx.getOrElse(q, Set.empty)).size }.sum
    assert(hits.toDouble / total >= 0.5, s"batch-2 recall $hits/$total")
  }

  test("disk-persisted PQ index: load skips rebuild, probe equals on-the-fly encoding") {
    import graft.queries.SimilarityQueries.{PqM, PqCodes, PqIters}
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-test")
      .resolve("idx").toString
    val built = Similarity.loadOrBuildPqIndex(
      emb, "vec_id", "embedding", dir, PqM, PqCodes, PqIters)
    val marker = new java.io.File(dir, "codebooks")
    assert(marker.isDirectory, "PQ index must persist to disk")
    val mtime = marker.lastModified
    val loaded = Similarity.loadOrBuildPqIndex(
      emb, "vec_id", "embedding", dir, PqM, PqCodes, PqIters)
    assert(marker.lastModified === mtime, "second call must load, not rebuild")
    assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
      built.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // codes-path probe == on-the-fly encode+rank (same codebooks)
    val fromCodes = Similarity.pqProbe(loaded, queries, 5)
      .collect().map(_.toSeq).toSeq
    val onTheFly = Similarity.pqTopK(emb, "vec_id", "embedding", queries, 5,
        PqM, PqCodes, PqIters, Some(built.codebooks))
      .collect().map(_.toSeq).toSeq
    assert(fromCodes === onTheFly)
  }

  test("declared PQ probe-only query reuses the persisted index, disjoint batch") {
    import graft.queries.SimilarityQueries
    val first = SimilarityQueries.pq(spark, sf001)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    val marker = new java.io.File(graft.operators.Similarity.pqIndexDirFor(
      new java.io.File(Tables.path(sf001, "embeddings")),
      SimilarityQueries.PqM, SimilarityQueries.PqCodes,
      SimilarityQueries.PqIters), "codebooks")
    assert(marker.isDirectory, "ann_pq_topk must have persisted the PQ index")
    val mtime = marker.lastModified
    val probeOnly = SimilarityQueries.pqProbeOnly(spark, sf001)
    val second = probeOnly.select("query_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(marker.lastModified === mtime, "probe-only must not retrain")
    assert(second.nonEmpty && (first & second).isEmpty,
      s"query batches must be disjoint: $first vs $second")
    val ranks = probeOnly.collect().groupBy(_.getLong(0))
      .values.map(_.map(_.getInt(2)).sorted.toSeq)
    ranks.foreach(rs => assert(rs === (1 to rs.length)))
  }

  test("recall eval: permille bounded, equals a driver-side set intersection") {
    import graft.queries.SimilarityQueries
    val r = SimilarityQueries.recallEval(spark, sf001).collect()
    assert(r.length === SimilarityQueries.Q)
    r.foreach { row =>
      val (hits, permille) = (row.getLong(2), row.getLong(3))
      assert(hits >= 0 && hits <= SimilarityQueries.K)
      assert(permille === 1000L * hits / SimilarityQueries.K)
    }
    // the reported hits equal an independent intersection of the two
    // declared queries' top-K sets
    val exact = topSets(SimilarityQueries.bruteForce(spark, sf001))
    val approx = topSets(SimilarityQueries.lsh(spark, sf001))
    r.foreach { row =>
      val q = row.getLong(0)
      val expected = (exact.getOrElse(q, Set.empty) & approx.getOrElse(q, Set.empty)).size
      assert(row.getLong(2) === expected.toLong, s"query $q")
    }
  }

  test("IVF-PQ probe: candidates bounded by IVF probe set, recall >= 0.3") {
    import graft.queries.SimilarityQueries.{PqM, PqCodes, PqIters, IvfNProbe}
    val idx = Similarity.buildIndex(emb, "vec_id", "embedding")
    try {
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", PqM, PqCodes, PqIters)
      val ivfpq = Similarity.probePq(idx, cb, queries, 5, IvfNProbe)
      // the PQ re-ranking must never widen the candidate set: every
      // neighbor is also reachable via the exact-distance probe at a
      // k large enough to keep the whole candidate set
      val wide = topSets(Similarity.probe(idx, queries, Int.MaxValue, IvfNProbe))
      val got = ivfpq.collect()
      got.foreach { r =>
        assert(wide(r.getLong(0)).contains(r.getLong(1)),
          s"${r.getLong(1)} not an IVF candidate of ${r.getLong(0)}")
      }
      // ranks contiguous per query
      got.groupBy(_.getLong(0)).values
        .map(_.map(_.getInt(2)).sorted.toSeq)
        .foreach(rs => assert(rs === (1 to rs.length)))
      // recall law vs exact euclidean (same bar as standalone PQ —
      // the IVF restriction plus 16x code compression)
      val all = emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      def d2(a: Array[Double], b: Array[Double]) = {
        var s0 = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }; s0
      }
      val exact = queries.map { case (q, qv) =>
        q -> all.filter(_._1 != q).map { case (i, v) => (i, d2(qv, v)) }
          .sortBy(x => (x._2, x._1)).take(5).map(_._1).toSet
      }.toMap
      val approx = topSets(ivfpq)
      val hits = exact.map { case (q, s0) =>
        (approx.getOrElse(q, Set.empty) & s0).size }.sum
      assert(hits.toDouble / exact.values.map(_.size).sum >= 0.3,
        s"ivf-pq recall $hits/${exact.values.map(_.size).sum}")
    } finally idx.unpersist()
  }

  test("LSH is deterministic for a fixed seed") {
    val a = Similarity.lshTopK(emb, "vec_id", "embedding", queries, 5).collect()
    val b = Similarity.lshTopK(emb, "vec_id", "embedding", queries, 5).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("identical vector is always rank 1 with cosine ~ 1") {
    import spark.implicits._
    val dup = Seq(
      (100L, Array(1.0, 2.0, 3.0)), (200L, Array(1.0, 2.0, 3.0)),
      (300L, Array(-3.0, 1.0, 0.5)), (400L, Array(0.0, 5.0, -1.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(dup, "vec_id", "embedding",
      Array((100L, Array(1.0, 2.0, 3.0))), 2).collect()
    assert(r.head.getLong(1) === 200L)
    assert(math.abs(r.head.getDouble(3) - 1.0) < 1e-12)
  }

  test("radius search equals unbounded LSH top-k filtered at the threshold") {
    val qv = queries
    val tau = 0.2
    val viaTopK = Similarity
      .lshTopK(emb, "vec_id", "embedding", qv, k = 1000000)
      .filter(col("cosine") >= tau)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaRadius = Similarity
      .lshRadius(emb, "vec_id", "embedding", qv, tau)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaRadius === viaTopK)
    assert(viaRadius.nonEmpty)
    // every returned pair really is above the threshold
    assert(Similarity.lshRadius(emb, "vec_id", "embedding", qv, tau)
      .filter(col("cosine") < tau).count() === 0)
  }

  test("hybrid RRF equals a driver-side fusion of the two retrievers") {
    val got = SparkEntry.queries("ann_hybrid_rrf")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // bm25 side via its own declared query (same terms, k=50)
    val bm = SparkEntry.queries("text_bm25_topk")(spark, sf001)
      .select(col("doc_id"), col("rank").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ann side: exact top-50 around the lowest-id query vector
    val embT = Tables.embeddings(spark, sf001)
    val q0 = embT.orderBy("vec_id").limit(1)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).head
    val ann = Similarity.bruteForceTopK(embT, "vec_id", "embedding", Array(q0), 50)
      .select(col("neighbor_id").cast("long"), col("rank").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fused = (bm.keySet ++ ann.keySet).toSeq.map { id =>
      val rrf = bm.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L) +
        ann.get(id).map(r => 1000000L / (60 + r)).getOrElse(0L)
      (id, rrf, bm.getOrElse(id, -1L), ann.getOrElse(id, -1L))
    }.sortBy { case (id, rrf, _, _) => (-rrf, id) }.take(20).zipWithIndex
      .map { case ((id, rrf, b, a), i) => (i + 1L, id, rrf, b, a) }
    assert(got.toSeq === fused)
    // at least one doc must be found by both retrievers or the
    // fixture stopped exercising the fusion
    assert(got.exists(r => r._4 > 0 && r._5 > 0))
  }
  test("vectorAudit counts planted defects exactly; fixture table is clean") {
    import spark.implicits._
    val good = Array.fill(4)(0.5f)
    val d = Seq(
      (1L, good),                         // clean
      (2L, Array.fill(4)(0.0f)),          // zero norm
      (3L, Array.fill(3)(1.0f)),          // wrong dim
      (4L, Array(Float.NaN, 1f, 1f, 1f)), // non-finite
      (5L, null.asInstanceOf[Array[Float]])) // null
      .toDF("vec_id", "embedding")
    val r = Similarity.vectorAudit(d, "vec_id", "embedding", 4).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      === ((5L, 1L, 1L, 1L, 1L)))
    // min over non-null norms: the zero vector; max: the wrong-dim 3x1.0 = 3.0
    assert(r.getLong(5) === 0L)
    assert(r.getLong(6) === 3000000L)
    // r10 ADVICE: non-finite norms are EXCLUDED from the bound
    // columns — a NaN row must not silently report
    // min_norm2_micros = 0 (indistinguishable from a real tiny norm)
    val d2 = Seq((1L, Array.fill(4)(0.5f)), (2L, Array(Float.NaN, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val r2 = Similarity.vectorAudit(d2, "vec_id", "embedding", 4).collect()(0)
    assert(r2.getLong(4) === 1L)
    assert(r2.getLong(5) === 1000000L && r2.getLong(6) === 1000000L)
    // the fixture embedding table must audit CLEAN (that is what lets
    // every ANN query index it without a guard)
    val fx = graft.queries.SimilarityQueries.vectorAuditQ(spark, sf001).collect()(0)
    assert(fx.getLong(1) === 0L && fx.getLong(2) === 0L &&
      fx.getLong(3) === 0L && fx.getLong(4) === 0L)
    assert(fx.getLong(0) > 0L && fx.getLong(5) > 0L)
  }

  test("hard negatives: never same-label, equals the label-filtered exhaustive top-k") {
    val all = emb.select(col("vec_id"), col("label"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val qs = all.sortBy(_._1).take(5)
    val got = Similarity.hardNegativesTopK(emb, "vec_id", "embedding", "label",
        qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val labels = all.map(t => t._1 -> t._2).toMap
    val qlabels = qs.map(t => t._1 -> t._2).toMap
    got.foreach { case (qid, nid, _, nlbl) =>
      assert(nlbl !== qlabels(qid))
      assert(labels(nid) === nlbl)
    }
    // exhaustive replica per query
    qs.foreach { case (qid, ql, qv) =>
      val qn = math.sqrt(VectorOps.dotSeq(qv, qv))
      val expect = all.filter(t => t._1 != qid && t._2 != ql)
        .map { case (id, _, v) =>
          (id, VectorOps.dotSeq(qv, v) / (qn * math.sqrt(VectorOps.dotSeq(v, v)))) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
      val mine = got.filter(_._1 == qid).sortBy(_._3).map(_._2).toSeq
      assert(mine === expect, s"query $qid")
    }
  }

  test("knnClassify: equals exhaustive majority vote; query batch never votes; tie -> smaller label") {
    import spark.implicits._
    val all = emb.select(col("vec_id"), col("label"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val qs = all.sortBy(_._1).take(5)
    val qids = qs.map(_._1).toSet
    val k = 7
    val got = Similarity.knnClassify(emb, "vec_id", "embedding", "label", qs, k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getInt(4)))
    assert(got.map(_._1).toSeq === qs.map(_._1).toSeq) // one row per query
    // exhaustive replica: top-k over NON-query rows, majority vote,
    // tie toward the smaller label
    qs.foreach { case (qid, ql, qv) =>
      val qn = math.sqrt(VectorOps.dotSeq(qv, qv))
      val topk = all.filterNot(t => qids.contains(t._1))
        .map { case (id, lbl, v) =>
          (id, lbl, VectorOps.dotSeq(qv, v) / (qn * math.sqrt(VectorOps.dotSeq(v, v)))) }
        .sortBy { case (id, _, c) => (-c, id) }.take(k)
      val (predLbl, nVotes) = topk.groupBy(_._2).view.mapValues(_.length)
        .toSeq.sortBy { case (lbl, n) => (-n, lbl) }.head
      val mine = got.find(_._1 == qid).get
      assert(mine._2 === ql)
      assert(mine._3 === predLbl, s"query $qid")
      assert(mine._4 === nVotes.toLong)
      assert(mine._5 === (if (ql == predLbl) 1 else 0))
    }
    // a planted clone of a query OUTSIDE the batch votes; a clone
    // INSIDE the batch must not (the weak-labeling exclusion rule)
    val base = Array(1.0, 0, 0, 0, 0, 0, 0, 0)
    val nearClone = Array(0.99, 0.01, 0, 0, 0, 0, 0, 0)
    val ortho = Array(0.0, 1, 0, 0, 0, 0, 0, 0)
    val toy = Seq(
      (1L, 0, base), (2L, 0, nearClone), // batch: 1 queried, 2 excluded
      (10L, 3, base.clone()), (11L, 7, ortho),
      (12L, 7, ortho.clone()), (13L, 7, ortho.clone()))
      .map { case (id, l, v) => (id, l, v.map(_.toFloat)) }
      .toDF("vec_id", "label", "embedding")
    val q1 = Array((1L, 0, base), (2L, 0, nearClone))
    val toyGot = Similarity.knnClassify(toy, "vec_id", "embedding", "label", q1, 1)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    // nearest NON-batch row to vector 1 is its exact clone id=10 (label 3),
    // not the in-batch near-clone id=2 (label 0) or the orthogonals
    assert(toyGot(1L) === 3)
  }

  test("covarianceStats == driver replica; PCA power iteration recovers a planted axis") {
    import spark.implicits._
    // anisotropic toy: strong variance along dim 1, tiny along dim 3
    val rng = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      val t = rng.nextGaussian()
      (i.toLong, Array(0.1f * rng.nextGaussian().toFloat,
        (3.0 * t).toFloat, 0.1f * rng.nextGaussian().toFloat,
        (0.3 * t).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.covarianceStats(df, "vec_id", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.length === 4 * 5 / 2)
    // driver replica: exact BigDecimal sums of the same double products
    def bd(x: Double) = new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(12, java.math.RoundingMode.HALF_UP)
    val vs = rows.map(_._2.map(_.toDouble))
    got.foreach { case (i, j, n, si, sj, sxy) =>
      assert(n === 200L)
      def r6(b: java.math.BigDecimal) =
        math.rint(b.doubleValue * 1e6) / 1e6
      val esi = r6(vs.map(v => bd(v(i))).reduce(_ add _))
      val esxy = r6(vs.map(v => bd(v(i) * v(j))).reduce(_ add _))
      assert(si === esi, s"s_i cell ($i,$j)")
      assert(sxy === esxy, s"s_xy cell ($i,$j)")
      assert(sj === r6(vs.map(v => bd(v(j))).reduce(_ add _)))
    }
    val (lambda, vec) = Similarity.pcaTopComponent(got)
    // dominant direction is (0, ±0.995, 0, ±0.0995): dim 1 carries it
    assert(lambda > 5.0)
    assert(math.abs(vec(1)) > 0.99)
    assert(math.abs(vec(0)) < 0.05 && math.abs(vec(2)) < 0.05)
  }

  test("margin mining: planted near-identical pair mined mutually with dominant margin") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    def noise() = Array.fill(32)((rng.nextDouble() - 0.5).toFloat)
    val base = noise()
    // x=0 and y=1 are near-clones; everything else is independent noise
    val xs = ((0L, base.map(v => (v + 0.001f))) +:
      (1 to 5).map(i => (2L * i, noise()))).toDF("vec_id", "embedding")
    val ys = ((1L, base) +:
      (1 to 5).map(i => (2L * i + 1, noise()))).toDF("vec_id", "embedding")
    val got = Similarity.marginKnnMining(xs, ys, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val (y0, m0, mut0) = got(0L)
    assert(y0 === 1L && mut0)
    // the clone pair's margin dwarfs every other mined pair's
    assert(got.filter(_._1 != 0L).values.forall(_._2 < m0))
  }

  test("margin mining: block-scheme invariance and mined-pair law on the fixture") {
    val e = emb
    val x = e.filter(pmod(col("vec_id"), lit(2)) === 0)
    val y = e.filter(pmod(col("vec_id"), lit(2)) === 1)
    def rows(b: Int) = Similarity.marginKnnMining(x, y, "vec_id", "embedding",
        k = 4, numBlocks = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val b4 = rows(4)
    // tiling is an execution detail: 1 tile == 16 tiles, row for row
    assert(rows(1) === b4)
    // every X vector mines exactly one partner; partner ids are odd
    assert(b4.map(_._1).distinct.length === b4.length)
    assert(b4.forall(t => t._2 % 2 == 1))
    // mutual pairs: y's best must be x — verify against a reversed run
    // (swap sides; mining X<->Y is symmetric in the margin formula)
    val rev = Similarity.marginKnnMining(y, x, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    b4.filter(_._4).foreach { case (xid, yid, _, _) =>
      assert(rev(yid) === xid, s"mutual pair ($xid, $yid) not reciprocated")
    }
  }

  test("margin stage single-pass == driver-side brute-force reference (r17 optimization pin)") {
    // Pins the r17 single-pass marginStage (window sums + one combined
    // best window + group-by mutuality) to an INDEPENDENT driver-side
    // implementation of the full contract — partner, margin AND mutual
    // flag — on a seeded random fixture, so the window/join-free
    // restructure cannot drift from the declared arithmetic.
    import spark.implicits._
    val rng = new scala.util.Random(2026)
    def noise() = Array.fill(8)((rng.nextDouble() - 0.5).toFloat)
    val xsRows = (0 until 17).map(i => (2L * i, noise()))
    val ysRows = (0 until 13).map(i => (2L * i + 1, noise()))
    val k = 3
    val got = Similarity.marginKnnMining(
        xsRows.toDF("vec_id", "embedding"), ysRows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = k, numBlocks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    // driver reference: the contract arithmetic in plain Scala
    val xs = xsRows.map { case (id, v) => (id, v.map(_.toDouble)) }
    val ys = ysRows.map { case (id, v) => (id, v.map(_.toDouble)) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def mOf(c: Double): Long = math.floor((c + 1.0d) * 500000.0d).toLong
    def topk(from: Seq[(Long, Array[Double])], to: Seq[(Long, Array[Double])]) =
      from.map { case (fid, fv) =>
        fid -> to.map { case (tid, tv) => (tid, cos(fv, tv)) }
          .sortBy { case (tid, c) => (-c, tid) }.take(k)
      }.toMap
    val xknn = topk(xs, ys)
    val yknn = topk(ys, xs)
    val sx = xknn.map { case (x, rs) => x -> rs.map(r => mOf(r._2)).sum }
    val sy = yknn.map { case (y, rs) => y -> rs.map(r => mOf(r._2)).sum }
    def margin(x: Long, y: Long, c: Double): Long =
      2L * k * 1000L * mOf(c) / (sx(x) + sy(y)) // denom > 0 on random noise
    val bestY = yknn.map { case (y, rs) =>
      y -> rs.map { case (x, c) => (x, c, margin(x, y, c)) }
        .minBy { case (x, c, m) => (-m, -c, x) }._1
    }
    val expected = xs.map(_._1).sorted.map { x =>
      val (y, c, m) = xknn(x).map { case (y, c) => (y, c, margin(x, y, c)) }
        .minBy { case (y, c, m) => (-m, -c, y) }
      (x, y, m, bestY(y) == x)
    }
    assert(got === expected)
  }

  test("knnGraphWithin == driver exhaustive within-cell ranking; lone vectors emit nothing") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    def noise() = Array.fill(16)(rng.nextDouble() - 0.5)
    // 3 cells: sizes 5, 3, 1 — the singleton must emit no edges
    val rows = (0 until 9).map(i =>
      (i.toLong, noise(), if (i < 5) 0 else if (i < 8) 1 else 2))
    val cells = rows.toDF("id", "v", "cell")
    val k = 2
    val got = Similarity.knnGraphWithin(cells, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._3))
    val byCell = rows.groupBy(_._3)
    val expected = rows.flatMap { case (sid, sv, c) =>
      val mates = byCell(c).filter(_._1 != sid)
      mates.map { case (nid, nv, _) =>
        val cos = graft.functions.VectorOps.dotSeq(sv, nv) /
          (math.sqrt(graft.functions.VectorOps.dotSeq(sv, sv)) *
           math.sqrt(graft.functions.VectorOps.dotSeq(nv, nv)))
        (sid, nid, cos)
      }.sortBy { case (_, nid, cos) => (-cos, nid) }.take(k).zipWithIndex
        .map { case ((s, n, c), r) => (s, n, r + 1, c) }
    }.sortBy(t => (t._1, t._3))
    assert(got === expected)
    assert(!got.exists(_._1 == 8L)) // the singleton cell
  }

  test("margin mining (IVF candidates): planted clone pair survives the probe path") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    def noise() = Array.fill(32)((rng.nextDouble() - 0.5).toFloat)
    val base = noise()
    // one corpus, sides by parity: x=0 / y=1 near-clones land in the
    // same (or adjacent-probed) cells BY CONSTRUCTION — d(x0, c) ≈
    // d(y1, c) for every center, so y1's home cell is inside x0's
    // probe set whenever nProbe ≥ 1 ties allow; the mined result must
    // contain the clone pair, mutually, with the dominant margin
    val corpus = ((0L, base.map(v => v + 0.001f)) +: (1L, base) +:
      (2 to 23).map(i => (i.toLong, noise()))).toDF("vec_id", "embedding")
    val idx = Similarity.buildIndex(corpus, "vec_id", "embedding",
      nCells = 4, trainIters = 3, trainSample = 100, seed = 42L)
    try {
      val got = Similarity.marginKnnMiningIvf(idx,
          pmod(col("id"), lit(2)) === 0, pmod(col("id"), lit(2)) === 1,
          k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
        .toMap
      val (y0, m0, mut0) = got(0L)
      assert(y0 === 1L && mut0)
      assert(got.filter(_._1 != 0L).values.forall(_._2 < m0))
      // structural law: every mined x appears once, partners are odd
      assert(got.keySet.forall(_ % 2 == 0))
      assert(got.values.forall(_._1 % 2 == 1))
    } finally idx.unpersist()
  }

  test("margin mining (IVF candidates): full-coverage probes reproduce the exact kernel") {
    // with nProbe = nCells every cell is probed, so the candidate set
    // IS the full cross product and the IVF form must equal
    // marginKnnMining row for row — pins that the probe kernel and
    // the shared margin stage introduce no arithmetic drift
    val e = emb
    val idx = Similarity.buildIndex(e, "vec_id", "embedding",
      nCells = 4, trainIters = 2, trainSample = 1000, seed = 42L)
    try {
      val ivf = Similarity.marginKnnMiningIvf(idx,
          pmod(col("id"), lit(2)) === 0, pmod(col("id"), lit(2)) === 1,
          k = 4, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
      val exact = Similarity.marginKnnMining(
          e.filter(pmod(col("vec_id"), lit(2)) === 0),
          e.filter(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", k = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
      assert(ivf === exact)
    } finally idx.unpersist()
  }

  test("margin mining auto: dispatch law — exact branch below the cutover (r12 verdict task 1)") {
    // the fixture (500 vectors) sits below ExactMarginMaxVectors, so
    // the auto form must be the exact tiled kernel row for row — the
    // branch the declared ann_margin_mining oracle replays
    val auto = Similarity.marginKnnMiningAuto(emb, "vec_id", "embedding",
        pmod(col("id"), lit(2)) === 0, pmod(col("id"), lit(2)) === 1, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val exact = Similarity.marginKnnMining(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(auto === exact)
  }

  test("margin mining auto: dispatch law — IVF branch above the cutover") {
    // exactMaxVectors = 0 forces the scale branch on the fixture: the
    // auto form must equal marginKnnMiningIvf against the SAME
    // autoNCells production-law index — each branch ≡ its standalone
    // operator, so the dispatch itself adds no arithmetic
    val n = emb.count()
    val idx = Similarity.buildIndex(emb, "vec_id", "embedding",
      nCells = Similarity.autoNCells(n))
    try {
      var hookedN = -1L
      val auto = Similarity.marginKnnMiningAuto(emb, "vec_id", "embedding",
          pmod(col("id"), lit(2)) === 0, pmod(col("id"), lit(2)) === 1,
          k = 4, nProbe = 4, exactMaxVectors = 0L,
          index = Some { nn => hookedN = nn; idx })
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
      assert(hookedN === n) // the hook sees the probed corpus size
      val ivf = Similarity.marginKnnMiningIvf(idx,
          pmod(col("id"), lit(2)) === 0, pmod(col("id"), lit(2)) === 1,
          k = 4, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
      assert(auto === ivf)
    } finally idx.unpersist()
  }

  test("indexDrift: a skewed new batch lights the retrain flag; a proportional one doesn't (r12 verdict task 4)") {
    import spark.implicits._
    // 4 cells, settled uniform at 10 rows each; the "drifting" ingest
    // lands its whole 10-row batch in cell 0, plus 2 rows in a cell
    // the index holds NO settled content for (the orphan case)
    def frame(rows: Seq[(Long, Int, Boolean)]) =
      rows.map { case (id, c, n) => (id, Array(0.0), c, n) }
        .toDF("id", "v", "cell", "nw")
    val settled = (0L until 40L).map(i => (i, (i % 4).toInt, false))
    val skewed = frame(settled ++
      (100L until 110L).map(i => (i, 0, true)) ++
      Seq((110L, 4, true), (111L, 4, true)))
    val got = Similarity.indexDrift(skewed, col("nw"), retrainThresholdPermille = 300L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(5),
        r.getBoolean(7), r.getBoolean(8))).toSeq
    // cell 0: settled 250‰ vs new 833‰ -> drift 583 > 300 -> retrain;
    // cells 1-3: 250‰ vs 0 -> drift 250, quiet; cell 4: orphan -> retrain
    assert(got === Seq(
      (0, 10L, 10L, 583L, false, true),
      (1, 10L, 0L, 250L, false, false),
      (2, 10L, 0L, 250L, false, false),
      (3, 10L, 0L, 250L, false, false),
      (4, 0L, 2L, 166L, true, true)))
    // a batch proportional to the settled occupancy raises nothing
    val calm = frame(settled ++ (100L until 108L).map(i => (i, (i % 4).toInt, true)))
    val calmGot = Similarity.indexDrift(calm, col("nw"), retrainThresholdPermille = 300L)
      .collect()
    assert(calmGot.forall(r => !r.getBoolean(8)))
    assert(calmGot.forall(r => r.getLong(6) === 1000L)) // exactly mean load
  }

  test("knnGraphAuto == knnGraph at fixture scale — the autoNCells floor IS the declared constant (r12 verdict task 5)") {
    val auto = graft.queries.SimilarityQueries.knnGraphAuto(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val pinned = graft.queries.SimilarityQueries.knnGraph(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(auto === pinned)
  }

  test("maintainIndex: planted skew retrains row-identically; a proportional batch is a no-op with the rebuild never invoked (r13 verdict task 8)") {
    val idx = graft.queries.SimilarityQueries.ivfIndex(spark, sf001)
    var rebuilt = 0
    def hook(): Similarity.IvfIndex = { rebuilt += 1
      Similarity.buildIndex(emb, "vec_id", "embedding") }
    // planted SKEW: the arriving batch is exactly one cell's whole
    // population — that cell has no settled rows (orphan), the
    // strongest retrain signal
    val c0 = idx.cells.select("cell").orderBy("cell").first().getInt(0)
    val (audit1, retrained1) = Similarity.maintainIndex(emb, "vec_id",
      "embedding", idx, col("cell") === c0,
      retrainThresholdPermille = 999L, rebuild = Some(() => hook()))
    val rows1 = audit1.collect()
    assert(rows1.forall(_.getString(9) === "retrain"))
    assert(rows1.filter(_.getInt(0) == c0).forall(_.getBoolean(7))) // orphan
    assert(rebuilt === 1 && retrained1.isDefined)
    // the retrain action IS the full-current-corpus build: its cell
    // assignment is row-identical to the shared index's
    val got = retrained1.get.cells.select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val shared = idx.cells.select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(got === shared)
    retrained1.get.unpersist()
    // PROPORTIONAL batch (every 5th id, the ingest convention) under
    // a threshold no share gap can cross: no flag, no rebuild, the
    // served index untouched
    val (audit2, retrained2) = Similarity.maintainIndex(emb, "vec_id",
      "embedding", idx, pmod(col("id"), lit(5)) === 0,
      retrainThresholdPermille = 999L, rebuild = Some(() => hook()))
    val rows2 = audit2.collect()
    assert(rows2.forall(_.getString(9) === "noop"))
    assert(rebuilt === 1 && retrained2.isEmpty)
  }

  test("knnGraphRefinedAuto == knnGraphRefined at fixture scale — the autoNCells floor IS the declared constant (r13 verdict task 2)") {
    val auto = graft.queries.SimilarityQueries.knnGraphRefinedAuto(spark, sf001)
      .collect().map(_.toSeq).toSeq
    val pinned = graft.queries.SimilarityQueries.knnGraphRefined(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(auto === pinned)
  }

  test("indexRetrain: retrained side == the shared index's occupancy; both sides conserve the corpus (r13)") {
    val got = graft.queries.SimilarityQueries.indexRetrainQ(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val corpus = emb.count()
    // occupancy conservation: every current row is assigned on BOTH
    // sides — the old (settled-trained) index serves the full corpus,
    // the retrained one re-homes the same rows
    assert(got.map(_._2).sum === corpus)
    assert(got.map(_._3).sum === corpus)
    // the retrained side IS the shared persisted index's occupancy
    val shared = graft.queries.SimilarityQueries.ivfIndex(spark, sf001).cells
      .groupBy("cell").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    got.foreach { case (cell, _, nRetrained, _, _) =>
      assert(shared.getOrElse(cell, 0L) === nRetrained, s"cell $cell")
    }
    // pure function of the corpus: a second invocation is identical
    val again = graft.queries.SimilarityQueries.indexRetrainQ(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(again === got)
  }

  test("covCells memo == the per-invocation covarianceStats explode plan (r12 verdict task 2)") {
    // the memoized UDAF cells must be cell-for-cell the decimal
    // explode plan's output — the contract that lets ann_covariance /
    // ann_pca_component / ann_pca_project share ONE corpus pass
    val memo = graft.queries.SimilarityQueries.covCells(spark, sf001).toSeq
    val direct = Similarity.covarianceStats(emb, "vec_id", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(memo === direct)
    // second call is the SAME driver array instance — no recompute
    assert(graft.queries.SimilarityQueries.covCells(spark, sf001) eq
      graft.queries.SimilarityQueries.covCells(spark, sf001))
  }

  test("pcaTop2: component 1 == pcaTopComponent; deflated component is near-orthogonal and smaller (r13)") {
    val stats = graft.queries.SimilarityQueries.covCells(spark, sf001)
    val ((l1, v1), (l2, v2)) = Similarity.pcaTop2(stats)
    val (l1solo, v1solo) = Similarity.pcaTopComponent(stats)
    // the first component's trajectory is untouched by the deflation
    assert(l1 === l1solo)
    assert(v1.toSeq === v1solo.toSeq)
    // Hotelling deflation: the second direction is orthogonal to the
    // first UP TO POWER-ITERATION CONVERGENCE — the declared
    // semantics is the deterministic 50-iteration trajectory (what
    // the oracle replays), not the infinite-iteration limit, and the
    // fixture's flat-ish spectrum leaves a ~5e-3 v₁ residual in v₂
    // (measured 0.0055 at sf0.01); the spec pins the ORDER of that
    // residual, the eigenvalue ordering, and unit norm
    assert(math.abs(VectorOps.dotSeq(v1, v2)) < 0.02)
    assert(l2 > 0.0 && l2 <= l1)
    assert(math.abs(math.sqrt(VectorOps.dotSeq(v2, v2)) - 1.0) < 1e-12)
  }

  test("semanticDecontam: a planted paraphrase of an eval item is flagged, self and dissimilar rows are not (r13)") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    def noise() = Array.fill(32)((rng.nextDouble() - 0.5).toFloat)
    val base = noise()
    // id 1 is the eval item (also a corpus member); id 23 is its
    // planted paraphrase (cosine ~0.9998); the rest is noise
    val corpus = ((1L, base) +: (23L, base.map(v => v + 0.001f)) +:
      (2 to 22).map(i => (i.toLong, noise()))).toDF("vec_id", "embedding")
    val idx = Similarity.buildIndex(corpus, "vec_id", "embedding",
      nCells = 4, trainIters = 3, trainSample = 100, seed = 42L)
    try {
      val evals = Array((1L, base.map(_.toDouble)))
      // nProbe = nCells: every cell probed, so this is the exact
      // radius answer and the assertion is recall-free
      val got = Similarity.semanticDecontam(idx, evals, threshold = 0.9, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got.map(g => (g._1, g._2)) === Seq((23L, 1L))) // the paraphrase, nothing else
      assert(got.head._3 > 0.99)
    } finally idx.unpersist()
  }

  test("nnDescentRound: one round strictly improves recall vs the within-cell graph (r13)") {
    // driver-exhaustive ground truth: the exact top-3 cosine graph
    val all = emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth: Map[Long, Set[Long]] = all.map { case (id, v) =>
      id -> all.filter(_._1 != id)
        .map { case (nid, nv) => (nid, cos(v, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }.take(3).map(_._1).toSet
    }.toMap
    val idx = graft.queries.SimilarityQueries.ivfIndex(spark, sf001)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("vec_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val hits = truth.toSeq.map { case (id, t) =>
        (got.getOrElse(id, Set.empty) & t).size.toDouble / t.size
      }
      hits.sum / hits.size
    }
    val base = Similarity.knnGraphWithin(idx.cells, 3)
    // hop-2 closure law: descent over the within-cell graph ALONE is
    // a no-op (neighbors' neighbors are cell-mates) — the seeding
    // caveat the operator scaladoc documents
    val unseeded = Similarity.nnDescentRound(base,
      Tables.embeddings(spark, sf001), "vec_id", "embedding", 3)
    assert(recallOf(unseeded) === recallOf(base))
    // the declared query's seeded union: cell graph + Lehmer-bucket
    // graph — one round now mixes partitions and must strictly beat
    // the cell graph (measured recall@3: 0.239 -> 0.666 on the fixture)
    val refined = graft.queries.SimilarityQueries.knnGraphRefined(spark, sf001)
    val (rBase, rRefined) = (recallOf(base), recallOf(refined))
    info(f"recall@3 vs exact graph: within-cell $rBase%.3f -> seeded+1 round $rRefined%.3f")
    assert(rRefined > rBase, s"refined $rRefined !> base $rBase")
    // every refined neighbor ranks by exact cosine with contiguous ranks
    val ranks = refined.collect().groupBy(_.getLong(0))
      .values.map(_.map(_.getInt(2)).sorted.toSeq)
    ranks.foreach(rs => assert(rs === (1 to rs.length)))

    // multi-round trajectory (r13 verdict task 7): each round's
    // candidate set contains the incumbents, so recall climbs
    // monotonically toward the exact graph; measured values recorded
    // in BASELINE.md r14
    val nCells = graft.queries.SimilarityQueries.IvfCells
    val (ra, rb) = Similarity.sampleRankCoeffs(
      graft.queries.SimilarityQueries.GraphSeedSalt)
    val mp = Similarity.SampleRankP
    val bucketed = idx.cells.select(
      (pmod(pmod(col("id"), lit(mp)) * lit(ra) + lit(rb), lit(mp)) % lit(nCells))
        .cast("int").as("cell"),
      col("id"), col("v"))
    val seed = base.union(Similarity.knnGraphWithin(bucketed, 3))
    val embsDf = Tables.embeddings(spark, sf001)
    val rounds = (1 to 3).map { r =>
      val g = Similarity.nnDescent(seed, embsDf, "vec_id", "embedding", 3, r)
      val rec = recallOf(g)
      g.unpersist()
      rec
    }
    info(f"recall@3 trajectory: seeded rounds 1-3 = ${rounds(0)}%.3f -> ${rounds(1)}%.3f -> ${rounds(2)}%.3f")
    assert(rounds(0) === rRefined) // nnDescent(1) IS the declared refined round
    assert(rounds(1) >= rounds(0))
    assert(rounds(2) >= rounds(1))
    // the declared 2-round query rides the same trajectory and its
    // session memo returns the identical frame on a second call
    val refined2 = graft.queries.SimilarityQueries.knnGraphRefined2(spark, sf001)
    assert(recallOf(refined2) === rounds(1))
  }

  test("graphSearch: IVF-entry beam rounds beat the probe-only entry baseline; memo stable (r14)") {
    import graft.queries.SimilarityQueries
    val qv = emb.orderBy("vec_id").limit(SimilarityQueries.Q)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // exact top-K ground truth (driver exhaustive)
    val all = emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth: Map[Long, Set[Long]] = qv.map { case (qid, q) =>
      qid -> all.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(q, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(SimilarityQueries.K)
        .map(_._1).toSet
    }.toMap
    def recallOf(pairs: Map[Long, Set[Long]]): Double = {
      val hits = truth.toSeq.map { case (q, t) =>
        (pairs.getOrElse(q, Set.empty) & t).size.toDouble / t.size }
      hits.sum / hits.size
    }
    // the entry baseline the search must beat: the SAME nProbe = 1
    // probe that seeds the beam, ranked to K on its own
    val idx = SimilarityQueries.ivfIndex(spark, sf001)
    val probeOnly = recallOf(topSets(
      Similarity.probe(idx, qv, SimilarityQueries.K, nProbe = 1)))
    val search = SparkEntry.queries("ann_graph_search")(spark, sf001)
    val searchRecall = recallOf(topSets(search))
    info(f"recall@${SimilarityQueries.K}: probe-only(nProbe=1) $probeOnly%.3f " +
      f"-> +${SimilarityQueries.SearchRounds} graph rounds $searchRecall%.3f")
    assert(searchRecall > probeOnly,
      s"graph rounds must recover cross-cell neighbors the 1-cell probe missed " +
        s"($searchRecall !> $probeOnly)")
    // well-formed: no self matches, contiguous ranks per query
    search.collect().foreach(r => assert(r.getLong(1) !== r.getLong(0)))
    val ranks = search.collect().groupBy(_.getLong(0))
      .values.map(_.map(_.getInt(2)).sorted.toSeq)
    ranks.foreach(rs => assert(rs === (1 to rs.length)))
    // the session memo serves the identical rows on re-invocation
    val again = SparkEntry.queries("ann_graph_search")(spark, sf001)
    assert(again.collect().toSeq === search.collect().toSeq)
    // the declared recall report counts exactly this overlap
    val rep = SparkEntry.queries("ann_graph_search_recall")(spark, sf001)
      .collect()(0)
    val common = truth.toSeq.map { case (q, t) =>
      (topSets(search).getOrElse(q, Set.empty) & t).size }.sum
    assert(rep.getAs[Long]("n_common") === common.toLong)
    assert(rep.getAs[Long]("n_exact") ===
      (SimilarityQueries.Q * SimilarityQueries.K).toLong)
  }

  test("graphInsert: append-only ingest — endpoints settled, every new vector linked, planted clone links at rank 1 (r14)") {
    import graft.queries.SimilarityQueries
    val ins = SparkEntry.queries("ann_graph_insert")(spark, sf001)
    val rows = ins.collect()
    // every inserted edge leaves a NEW vector and lands on a SETTLED
    // one (append-only: no settled row is rewritten)
    rows.foreach { r =>
      assert(r.getLong(0) % 5 === 0, s"edge source not in the new batch: $r")
      assert(r.getLong(1) % 5 !== 0, s"edge endpoint not settled: $r")
    }
    // every new vector is linked with contiguous ranks <= GraphK
    val nNew = emb.filter(pmod(col("vec_id"), lit(5)) === 0).count()
    val byNew = rows.groupBy(_.getLong(0))
    assert(byNew.size.toLong === nNew, s"${byNew.size} linked of $nNew new")
    byNew.values.foreach { es =>
      assert(es.map(_.getInt(2)).sorted.toSeq === (1 to es.length))
      assert(es.length <= SimilarityQueries.GraphK)
    }
    // the memo serves identical rows on re-invocation
    assert(SparkEntry.queries("ann_graph_insert")(spark, sf001)
      .collect().toSeq === rows.toSeq)
    // planted clone: a new vector equal to a settled one must find it
    // at rank 1 through the settled graph (entry probe lands in the
    // clone's own cell; cosine 1 dominates)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val settled = (1L to 60L).filter(_ % 5 != 0)
      .map(id => (id, Array.fill(8)(rnd.nextGaussian())))
    val cloneOf = settled.find(_._1 == 7L).get._2
    val sdf = settled.toDF("vec_id", "embedding")
    val idx = Similarity.buildIndex(sdf, "vec_id", "embedding", nCells = 4)
    val edges = Similarity.knnGraphWithin(idx.cells, 3)
    val entries = Similarity.probe(idx, Array((60L, cloneOf)), 4, nProbe = 1)
      .select(col("query_id"), col("neighbor_id").as("node"))
    val linked = Similarity.graphSearch(edges, sdf, "vec_id", "embedding",
        Array((60L, cloneOf)), entries, 1, 4, 2)
      .collect()
    assert(linked.length === 1 && linked(0).getLong(1) === 7L,
      s"clone not linked to its settled twin: ${linked.toSeq}")
    idx.unpersist()
  }

  test("graphSearch: the pruning dispatch's two branches are row-identical (r14)") {
    // the per-round plan formulation dispatched its corpus access on
    // distinct-id count (IN pushdown for small serving batches,
    // broadcast join for bulk ingest); the round loop that replaced it
    // must equal it under both branches, bit for bit. isinMaxIds = 0
    // forces the join branch on the same inputs the declared
    // (IN-branch) search takes at fixture scale
    import graft.queries.SimilarityQueries
    val qv = emb.orderBy("vec_id").limit(SimilarityQueries.Q)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val idx = SimilarityQueries.ivfIndex(spark, sf001)
    val edges = SimilarityQueries.refinedEdges(spark, sf001)
    val entries = Similarity.probe(idx, qv, SimilarityQueries.SearchBeam, nProbe = 1)
      .select(col("query_id"), col("neighbor_id").as("node"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().toSeq
    val got = rows(Similarity.graphSearch(edges, Tables.embeddings(spark, sf001),
      "vec_id", "embedding", qv, entries, SimilarityQueries.K,
      SimilarityQueries.SearchBeam, SimilarityQueries.SearchRounds))
    def legacy(maxIds: Int) = rows(LegacyGraphSearch.graphSearch(edges,
        Tables.embeddings(spark, sf001), "vec_id", "embedding", qv, entries,
        SimilarityQueries.K, SimilarityQueries.SearchBeam,
        SimilarityQueries.SearchRounds, isinMaxIds = maxIds))
    assert(got.nonEmpty)
    assert(got === legacy(0))
    assert(got === legacy(Int.MaxValue))
  }

  test("graphSearchCurve: the declared-beam row equals the recall report (r14)") {
    import graft.queries.SimilarityQueries
    val curve = SparkEntry.queries("ann_graph_search_curve")(spark, sf001)
      .collect()
    assert(curve.map(_.getInt(0)).toSeq === SimilarityQueries.CurveBeams)
    curve.foreach { r =>
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000L)
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(3) <= r.getLong(1))
    }
    // the curve at the DECLARED beam must count exactly what the
    // declared recall report counts — one composition, two readouts
    val rep = SparkEntry.queries("ann_graph_search_recall")(spark, sf001)
      .collect()(0)
    val at = curve.find(_.getInt(0) === SimilarityQueries.SearchBeam).get
    assert(at.getLong(3) === rep.getAs[Long]("n_common"))
    assert(at.getLong(4) === rep.getAs[Long]("recall_permille"))
    info(curve.map(r => s"beam ${r.getInt(0)}: ${r.getLong(4)} permille")
      .mkString(", "))
  }

  test("graphSearchBulk: any chunking is row-identical to the one-batch search (r14 verdict task 1/8)") {
    import graft.queries.SimilarityQueries
    // the insert composition on a 10-query new batch, driven through
    // the chunked bulk path at three chunkings (4 chunks / 2 chunks /
    // one batch) and through plain graphSearch directly — per-query
    // independence must make all four row-identical, so the declared
    // insert hashes cannot move when BulkChunkQ is retuned
    val settled = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val newBatch = emb.filter(pmod(col("vec_id"), lit(5)) === 0 &&
      col("vec_id") < 50)
    val idx = Similarity.buildIndex(settled, "vec_id", "embedding", nCells = 8)
    val edges = Similarity.knnGraphWithin(idx.cells, 3)
    def entriesOf(chunk: Array[(Long, Array[Double])]) =
      Similarity.probe(idx, chunk, 4, nProbe = 1)
        .select(col("query_id"), col("neighbor_id").as("node"))
    def bulk(chunkQ: Int) = Similarity.graphSearchBulk(edges, settled,
        "vec_id", "embedding", newBatch, "vec_id", "embedding", entriesOf _,
        SimilarityQueries.GraphK, 4, 2, chunkQ = chunkQ)
      .orderBy("query_id", "rank").collect().toSeq
    val oneBatchQ = newBatch
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val direct = Similarity.graphSearch(edges, settled, "vec_id", "embedding",
        oneBatchQ, entriesOf(oneBatchQ), SimilarityQueries.GraphK, 4, 2)
      .orderBy("query_id", "rank").collect().toSeq
    val chunked4 = bulk(3)
    assert(chunked4 === direct, "chunkQ=3 diverged from the one-batch search")
    assert(bulk(5) === direct, "chunkQ=5 diverged from the one-batch search")
    assert(bulk(Int.MaxValue) === direct, "single-chunk bulk diverged")
    assert(direct.nonEmpty)
    // the empty batch is a well-typed empty frame (the streaming
    // twin's empty-trigger contract)
    assert(Similarity.graphSearchBulk(edges, settled, "vec_id", "embedding",
      newBatch.filter(lit(false)), "vec_id", "embedding", entriesOf _,
      3, 4, 2).count() === 0L)
    // r17 (r16 verdict task 8): the consume variant returns the same
    // rows AND releases the batch's sink as soon as the consumer is
    // done — a repeated-ingest session holds tmp disk FLAT instead of
    // accumulating one JVM-lifetime sink per batch
    def bulkDirs() = new java.io.File(
        System.getProperty("java.io.tmpdir")).listFiles()
      .filter(_.getName.startsWith("graft-bulk-")).map(_.getName).toSet
    val before = bulkDirs()
    (1 to 2).foreach { _ =>
      val rows = Similarity.graphSearchBulkConsume(edges, settled,
          "vec_id", "embedding", newBatch, "vec_id", "embedding",
          entriesOf _, SimilarityQueries.GraphK, 4, 2, chunkQ = 3) {
        df => df.orderBy("query_id", "rank").collect().toSeq
      }
      assert(rows === direct, "consume variant diverged from the one-batch search")
      assert(bulkDirs() === before,
        "consume variant must release its sink before returning")
    }
    // ...and the sink is released on a THROWING consumer too
    intercept[RuntimeException] {
      Similarity.graphSearchBulkConsume(edges, settled,
          "vec_id", "embedding", newBatch, "vec_id", "embedding",
          entriesOf _, SimilarityQueries.GraphK, 4, 2, chunkQ = 3) {
        _ => throw new RuntimeException("consumer failure")
      }
    }
    assert(bulkDirs() === before,
      "consume variant must release its sink when the consumer throws")
    idx.unpersist()
  }

  test("graphInsert contract: a new vector links to SETTLED nodes even when its true nearest is another NEW vector (r14 verdict task 8)") {
    // the batch-boundary adversary: by construction inserts navigate
    // the settled-only graph, so a new vector whose best neighbor is
    // another new vector in the SAME batch must still link settled —
    // this pins the append-only contract so a future "link to new
    // nodes too" change diverges loudly from the oracle instead of
    // silently.
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val settled = (1L to 40L).filterNot(_ % 5 == 0)
      .map(id => (id, Array.fill(8)(rnd.nextGaussian())))
    // two new vectors, near-identical to each OTHER and unlike any
    // settled vector's direction
    val axis = Array.fill(8)(0.0); axis(7) = 100.0
    val nearAxis = axis.clone(); nearAxis(6) = 0.5
    val all = (settled ++ Seq((45L, axis), (50L, nearAxis)))
      .toDF("vec_id", "embedding")
    val settledDf = all.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val idx = Similarity.buildIndex(settledDf, "vec_id", "embedding", nCells = 4)
    val edges = Similarity.knnGraphWithin(idx.cells, 3)
    val out = Similarity.graphSearchBulk(edges, settledDf, "vec_id", "embedding",
      all.filter(pmod(col("vec_id"), lit(5)) === 0), "vec_id", "embedding",
      chunk => Similarity.probe(idx, chunk, 4, nProbe = 1)
        .select(col("query_id"), col("neighbor_id").as("node")),
      3, 4, 2).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % 5 === 0, s"source not new: $r")
      assert(r.getLong(1) % 5 !== 0,
        s"inserted edge landed on a NEW vector — the settled-only contract broke: $r")
    }
    idx.unpersist()
  }

  test("graphConsolidate: new nodes become first-class; a planted new-new clone pair becomes mutual (r15)") {
    import graft.queries.SimilarityQueries
    // declared surface: every new vector is a source, and each new
    // vector's best neighbor can only improve on its insert edges
    // (descent candidates ⊇ incumbents — rescoring is monotone)
    val cons = SparkEntry.queries("ann_graph_consolidate")(spark, sf001).collect()
    val ins = SparkEntry.queries("ann_graph_insert")(spark, sf001).collect()
    val newIds = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val consBest = cons.filter(_.getInt(2) == 1)
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(newIds.subsetOf(consBest.keySet),
      "a new vector vanished from the consolidated graph")
    ins.filter(_.getInt(2) == 1).foreach { r =>
      assert(consBest(r.getLong(0)) >= r.getDouble(3) - 1e-9,
        s"consolidation worsened new node ${r.getLong(0)}'s best neighbor")
    }
    // the planted case consolidation EXISTS for: two near-identical
    // NEW vectors in the same batch — insert links both settled-only
    // (the append-only contract), consolidation's reversed-insert
    // union makes them each other's rank-1 via directed hop-2
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val settled = (1L to 40L).filterNot(_ % 5 == 0)
      .map(id => (id, Array.fill(8)(rnd.nextGaussian())))
    val axis = Array.fill(8)(0.0); axis(7) = 100.0
    val nearAxis = axis.clone(); nearAxis(6) = 0.5
    val all = (settled ++ Seq((45L, axis), (50L, nearAxis)))
      .toDF("vec_id", "embedding")
    val settledDf = all.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val idx = Similarity.buildIndex(settledDf, "vec_id", "embedding", nCells = 4)
    val settledEdges = Similarity.knnGraphWithin(idx.cells, 3)
    val inserted = Similarity.graphSearchBulk(settledEdges, settledDf,
        "vec_id", "embedding",
        all.filter(pmod(col("vec_id"), lit(5)) === 0), "vec_id", "embedding",
        chunk => Similarity.probe(idx, chunk, 4, nProbe = 1)
          .select(col("query_id"), col("neighbor_id").as("node")),
        3, 4, 2)
      .select(col("query_id").as("vec_id"), col("neighbor_id"))
    // insert output: NO new-to-new edges (the contract)
    assert(inserted.filter(pmod(col("vec_id"), lit(5)) === 0 &&
      pmod(col("neighbor_id"), lit(5)) === 0).count() === 0L)
    val unioned = settledEdges.select(col("vec_id"), col("neighbor_id"))
      .union(inserted)
      .union(inserted.select(col("neighbor_id").as("vec_id"),
        col("vec_id").as("neighbor_id")))
    val merged = Similarity.nnDescentRound(unioned, all,
      "vec_id", "embedding", 3).collect()
    val r1 = merged.filter(_.getInt(2) == 1)
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(45L) === 50L && r1(50L) === 45L,
      s"planted new-new clone pair not mutual after consolidation: $r1")
    idx.unpersist()
  }

  test("graphConsolidatedRecall: sane counts; the incremental-vs-rebuild gap is measured, not assumed (r15)") {
    val rep = SparkEntry.queries("ann_graph_consolidated_recall")(spark, sf001)
      .collect()(0)
    val rebuild = SparkEntry.queries("ann_graph_search_recall")(spark, sf001)
      .collect()(0)
    assert(rep.getAs[Long]("n_queries") === 10L)
    assert(rep.getAs[Long]("n_found") === rep.getAs[Long]("n_exact"))
    val rp = rep.getAs[Long]("recall_permille")
    assert(rp >= 0L && rp <= 1000L)
    assert(rep.getAs[Long]("n_common") <= rep.getAs[Long]("n_exact"))
    // the incremental store must remain genuinely useful — well above
    // the ~random floor — while the measured gap vs the from-scratch
    // rebuild is the query's whole point (fixture: 740 vs 860 permille)
    assert(rp >= 500L, s"consolidated serve degenerated: $rp permille")
    info(s"consolidated serve $rp permille vs rebuild " +
      s"${rebuild.getAs[Long]("recall_permille")} permille")
  }

  test("graphAudit: counts equal a driver replica; degree bounded by GraphK (r15)") {
    import graft.queries.SimilarityQueries
    val a = SparkEntry.queries("ann_graph_audit")(spark, sf001).collect()(0)
    val edges = SimilarityQueries.refinedEdges(spark, sf001)
      .select("vec_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pairs = edges.map(e => (e._1, e._2)).toSet
    val nRecip = edges.count(e => pairs.contains((e._2, e._1)))
    val maxDeg = edges.groupBy(_._1).values.map(_.length).max
    assert(a.getAs[Long]("n_nodes") === edges.map(_._1).distinct.length.toLong)
    assert(a.getAs[Long]("n_edges") === edges.length.toLong)
    assert(a.getAs[Long]("n_reciprocal") === nRecip.toLong)
    assert(a.getAs[Long]("max_out_degree") === maxDeg.toLong)
    assert(maxDeg <= SimilarityQueries.GraphK)
    assert(a.getAs[Long]("cosine_micros_total") ===
      edges.map(e => math.floor(e._3 * 1000000.0).toLong).sum)
    val rp = a.getAs[Long]("reciprocal_permille")
    assert(rp >= 0L && rp <= 1000L)
    info(s"graph reciprocity: $rp permille over ${edges.length} edges")
  }

  test("disk-persisted graph: load skips rebuild, edges identical (r14 verdict task 2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-graph-test")
      .resolve("g").toString
    val idx = Similarity.buildIndex(emb, "vec_id", "embedding", nCells = 8)
    def build = Similarity.nnDescentRound(
      Similarity.knnGraphWithin(idx.cells, 3), emb, "vec_id", "embedding", 3)
    val written = Similarity.loadOrBuildGraph(spark, dir)(build)
    val marker = new java.io.File(dir, "edges/_SUCCESS")
    assert(marker.exists, "graph must persist to disk")
    val mtime = marker.lastModified
    val first = written.orderBy("vec_id", "rank").collect().toSeq
    val loaded = Similarity.loadOrBuildGraph(spark, dir) {
      fail("second call must load, not rebuild"); build
    }
    assert(marker.lastModified === mtime, "second call must load, not rebuild")
    assert(loaded.orderBy("vec_id", "rank").collect().toSeq === first,
      "parquet round-trip changed the edge list")
    // the loaded frame is value-identical to the in-memory build
    assert(first === build.orderBy("vec_id", "rank").collect().toSeq)
    idx.unpersist()
  }

  test("declared graph probe-only reuses the disk graph and serves a disjoint batch (r14 verdict task 2)") {
    import graft.queries.SimilarityQueries
    val first = SparkEntry.queries("ann_graph_search")(spark, sf001)
      .select("query_id").distinct().collect().map(_.getLong(0)).toSet
    val marker = new java.io.File(graft.operators.Similarity.graphDirFor(
      new java.io.File(Tables.path(sf001, "embeddings")),
      SimilarityQueries.GraphK, SimilarityQueries.IvfCells,
      SimilarityQueries.GraphSeedSalt, 1, SimilarityQueries.IvfCells,
      SimilarityQueries.IvfTrainIters, SimilarityQueries.IvfTrainSample,
      SimilarityQueries.IvfSeed), "edges/_SUCCESS")
    assert(marker.exists, "ann_graph_search must have persisted the graph")
    val mtime = marker.lastModified
    val probeOnly = SparkEntry.queries("ann_graph_probe_only")(spark, sf001)
    val second = probeOnly.select("query_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(marker.lastModified === mtime,
      "probe-only must not rebuild the graph")
    assert(second.nonEmpty && (first & second).isEmpty,
      s"query batches must be disjoint: $first vs $second")
    val ranks = probeOnly.collect().groupBy(_.getLong(0))
      .values.map(_.map(_.getInt(2)).sorted.toSeq)
    ranks.foreach(rs => assert(rs === (1 to rs.length)))
  }

  test("graphEntryCurve: the nProbe=1 row equals the recall report; counts bounded (r14 verdict task 5)") {
    import graft.queries.SimilarityQueries
    val curve = SparkEntry.queries("ann_graph_entry_curve")(spark, sf001)
      .collect()
    assert(curve.map(_.getInt(0)).toSeq === SimilarityQueries.EntryProbes)
    curve.foreach { r =>
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000L)
      assert(r.getLong(3) <= r.getLong(2) && r.getLong(3) <= r.getLong(1))
    }
    // the nProbe=1 entry IS the declared composition — its counts
    // must equal ann_graph_search_recall's exactly
    val rep = SparkEntry.queries("ann_graph_search_recall")(spark, sf001)
      .collect()(0)
    val at = curve.find(_.getInt(0) === 1).get
    assert(at.getLong(3) === rep.getAs[Long]("n_common"))
    assert(at.getLong(4) === rep.getAs[Long]("recall_permille"))
    info(curve.map(r => s"nProbe ${r.getInt(0)}: ${r.getLong(4)} permille")
      .mkString(", "))
  }

  test("dimTruncRecall: the projected ranking equals a driver replica; report counts the exact overlap (r14)") {
    import graft.queries.SimilarityQueries
    val qv = emb.orderBy("vec_id").limit(SimilarityQueries.Q)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val all = emb.select(col("vec_id"), VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ((l1, w1), (l2, w2)) =
      Similarity.pcaTop2(SimilarityQueries.covCells(spark, sf001),
        SimilarityQueries.PcaIters)
    // driver replica of both rank sides
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val projAll = all.map { case (id, v) =>
      (id, VectorOps.dotSeq(v, w1), VectorOps.dotSeq(v, w2)) }
    val truncSets: Map[Long, Set[Long]] = qv.map { case (qid, q) =>
      val (q1, q2) = (VectorOps.dotSeq(q, w1), VectorOps.dotSeq(q, w2))
      val qn = math.sqrt(q1 * q1 + q2 * q2)
      qid -> projAll.filter { case (id, s1, s2) =>
          id != qid && s1 * s1 + s2 * s2 > 0.0 }
        .map { case (id, s1, s2) =>
          (id, (q1 * s1 + q2 * s2) / (qn * math.sqrt(s1 * s1 + s2 * s2))) }
        .sortBy { case (id, c) => (-c, id) }.take(SimilarityQueries.K)
        .map(_._1).toSet
    }.toMap
    val exactSets: Map[Long, Set[Long]] = qv.map { case (qid, q) =>
      qid -> all.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(q, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(SimilarityQueries.K)
        .map(_._1).toSet
    }.toMap
    val common = truncSets.toSeq.map { case (q, t) =>
      (t & exactSets(q)).size }.sum
    val rep = SparkEntry.queries("ann_dim_truncate_recall")(spark, sf001)
      .collect()(0)
    assert(rep.getAs[Long]("n_trunc") ===
      (SimilarityQueries.Q * SimilarityQueries.K).toLong)
    assert(rep.getAs[Long]("n_common") === common.toLong)
    assert(rep.getAs[Long]("recall_permille") ===
      1000L * common / (SimilarityQueries.Q * SimilarityQueries.K))
    // the price is real on this fixture: its spectrum is nearly flat
    // (random-ish embeddings), so a 2/64 projection keeps little of
    // the ranking signal — the eval MEASURES that instead of hiding it
    info(f"top-2/64 truncation recall@${SimilarityQueries.K}: " +
      f"${rep.getAs[Long]("recall_permille")}%d permille " +
      f"(eigenvalue share l1=$l1%.4f l2=$l2%.4f)")
  }

  test("dimTruncRecall: a planted dominant plane survives the top-2 projection (r14)") {
    // the fixture's flat spectrum correctly scores ~0 (the eval's
    // honest answer for isotropic embeddings); this pins the OTHER
    // side — when the variance does live in 2 directions, the same
    // projection preserves the ranking and the eval says so
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val d = 8
    val data = (0L until 120L).map { id =>
      val a = rnd.nextGaussian() * 10.0
      val b = rnd.nextGaussian() * 5.0
      val v = Array.tabulate(d) { i =>
        (if (i == 0) a else 0.0) + (if (i == 1) b else 0.0) +
          rnd.nextGaussian() * 0.01
      }
      (id, v)
    }
    val df = data.toDF("vec_id", "embedding")
    val stats = df
      .agg(graft.functions.CovCellsAgg.cov_cells(d)(col("embedding")).as("c"))
      .selectExpr("inline(c)").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val ((_, w1), (_, w2)) = Similarity.pcaTop2(stats, 50)
    val proj = df.select(col("vec_id"),
      array(
        VectorOps.dot(col("embedding"), typedLit(w1.toSeq)),
        VectorOps.dot(col("embedding"), typedLit(w2.toSeq))).as("pv"))
    val qv = data.take(10).map { case (id, v) => (id, v) }.toArray
    val qproj = qv.map { case (qid, v) =>
      (qid, Array(VectorOps.dotSeq(v, w1), VectorOps.dotSeq(v, w2))) }
    val trunc = topSets(Similarity.bruteForceTopK(proj, "vec_id", "pv", qproj, 5))
    val exact = topSets(Similarity.bruteForceTopK(df, "vec_id", "embedding", qv, 5))
    val recall = exact.toSeq.map { case (q, t) =>
      (trunc.getOrElse(q, Set.empty) & t).size.toDouble / t.size }.sum / exact.size
    info(f"planted-plane top-2/$d%d truncation recall@5: $recall%.3f")
    assert(recall >= 0.7, s"a 2-d-dominant spectrum must survive truncation ($recall)")
  }

  test("marginMiningSampledExact == the full exact kernel's bestX restricted to the sample (r13 verdict task 1)") {
    val xs = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val ys = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val full = Similarity.marginKnnMining(xs, ys, "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), opt(r, 2)))
    val sampleQ = 7
    val sampleIds = xs.orderBy("vec_id").limit(sampleQ)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // the sampled ground truth must be the full kernel's bestX rows
    // for exactly the sampled x ids — partner, margin and all (the
    // linear two-scan path computes the same neighborhoods)
    val sampled = Similarity.marginMiningSampledExact(emb, "vec_id",
        "embedding", pmod(col("id"), lit(2)) === 0,
        pmod(col("id"), lit(2)) === 1, k = 4, sampleQ = sampleQ)
      .collect().map(r => (r.getLong(0), r.getLong(1), opt(r, 2)))
    assert(sampled.length === sampleQ)
    assert(sampled.toSeq === full.filter(t => sampleIds(t._1)).toSeq)
  }

  test("nnDescentRound: hoisted per-id norms == the inline self-dot kernel, bit for bit (r13 verdict task 4)") {
    // the declared query's seed union, rebuilt here so both kernels
    // score the identical candidate set
    val idx = graft.queries.SimilarityQueries.ivfIndex(spark, sf001)
    val nCells = graft.queries.SimilarityQueries.IvfCells
    val cellEdges = Similarity.knnGraphWithin(idx.cells, 3)
    val (ra, rb) = Similarity.sampleRankCoeffs(
      graft.queries.SimilarityQueries.GraphSeedSalt)
    val mp = Similarity.SampleRankP
    val bucketed = idx.cells.select(
      (pmod(pmod(col("id"), lit(mp)) * lit(ra) + lit(rb), lit(mp)) % lit(nCells))
        .cast("int").as("cell"),
      col("id"), col("v"))
    val edges = cellEdges.union(Similarity.knnGraphWithin(bucketed, 3))
    val got = Similarity.nnDescentRound(edges, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    // the pre-hoist kernel verbatim: both endpoint self-dots
    // re-folded per candidate row — sqrt(dot(v,v)) is the same
    // correctly-rounded double either way, so raw cosines must match
    // bit for bit
    val e = edges.select(col("vec_id").cast("long").as("src"),
      col("neighbor_id").cast("long").as("nb"))
    val hop2 = e.as("a").join(e.as("b"), col("a.nb") === col("b.src"))
      .select(col("a.src").as("src"), col("b.nb").as("cand"))
    val cands = e.select(col("src"), col("nb").as("cand")).union(hop2)
      .filter(col("src") =!= col("cand")).distinct()
    val pv = emb.select(col("vec_id").cast("long").as("id"),
      VectorOps.toDouble(col("embedding")).as("v"))
    val scored = cands
      .join(pv.select(col("id").as("src"), col("v").as("sv")), Seq("src"))
      .join(pv.select(col("id").as("cand"), col("v").as("cv")), Seq("cand"))
      .select(col("src"), col("cand"),
        (graft.plans.expressions.vec_dot(col("sv"), col("cv")) /
          (sqrt(graft.plans.expressions.vec_dot(col("sv"), col("sv"))) *
           sqrt(graft.plans.expressions.vec_dot(col("cv"), col("cv")))))
          .as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cosine").desc, col("cand"))
    val twin = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("src"), col("cand"), col("rank"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(got === twin)
  }

  test("FixtureCache: session-keyed entries evict when the owning session key is dropped (r13 ADVICE)") {
    import graft.io.FixtureCache
    import org.apache.spark.sql.SparkSession
    val other = spark.newSession()
    var memoRuns, sessionRuns, frameRuns = 0
    def memoed(dir: String) =
      FixtureCache.memo("spec_fc_memo", dir, "embeddings") { memoRuns += 1; new Object }
    def bound(s: SparkSession) =
      FixtureCache.session(s, "spec_fc_session", sf001, "embeddings") { sessionRuns += 1; new Object }
    // every row the frame's source yields bumps `sourceRows`
    val sourceRows = spark.sparkContext.longAccumulator("spec_fc_source_rows")
    val tick = udf { (id: Long) => sourceRows.add(1); id }
    def framed(s: SparkSession) =
      FixtureCache.frame(s, "spec_fc_frame", sf001, "embeddings") {
        frameRuns += 1
        Tables.embeddings(s, sf001).select(tick(col("vec_id")).as("vec_id"))
      }

    // one compute per key; a hit returns the same object. The jobs of
    // a session/frame build carry the entry's tag and the caller's
    // description comes back afterwards.
    val sc = spark.sparkContext
    val group = "spec-fixture-cache"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          descriptions.add(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(jobs)
    val (m, b, f) =
      try {
        sc.setJobGroup(group, "caller's description")
        val built = (memoed(sf001), bound(spark), framed(spark))
        assert(sc.getLocalProperty("spark.job.description") === "caller's description")
        org.apache.spark.GraftSparkShims.drainListenerBus(sc)
        built
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(jobs)
      }
    val seen = descriptions.toArray.toSeq.map(_.toString)
    assert(seen.nonEmpty && seen.forall(_ == "FixtureCache spec_fc_frame"), s"jobs: $seen")
    assert(memoed(sf001) eq m); assert(bound(spark) eq b); assert(framed(spark) eq f)
    assert((memoRuns, sessionRuns, frameRuns) === ((1, 1, 1)))

    // a frame is persisted, materialized once, and a later action
    // reads the cached rows, not its source
    val n = Tables.embeddings(spark, sf001).count()
    assert(f.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    assert(sourceRows.sum === n)
    assert(f.count() === n)
    assert(sourceRows.sum === n, "a second count re-read the frame's source")

    // another session gets its own session/frame entries; memo is shared
    val ob = bound(other)
    val of = framed(other)
    assert((ob ne b) && (of ne f))
    assert(memoed(sf001) eq m)
    assert((memoRuns, sessionRuns, frameRuns) === ((1, 2, 2)))

    // evicting that session drops exactly its entries: they recompute,
    // while the shared session's entries and the memo survive
    FixtureCache.evict(other)
    assert(bound(spark) eq b); assert(framed(spark) eq f); assert(memoed(sf001) eq m)
    assert((memoRuns, sessionRuns, frameRuns) === ((1, 2, 2)))
    assert(bound(other) ne ob)
    assert(framed(other) ne of)
    assert((memoRuns, sessionRuns, frameRuns) === ((1, 3, 3)))
    FixtureCache.evict(other)

    // the file identity is (path, mtime, size): a copy recomputes, and
    // so does the copy after its mtime or its size changes
    val tmp = java.nio.file.Files.createTempDirectory("graft-fixture-cache")
    val copy = tmp.resolve("embeddings.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(Tables.path(sf001, "embeddings")), copy)
    try {
      val c1 = memoed(tmp.toString)
      assert(c1 ne m); assert(memoRuns === 2)
      assert(memoed(tmp.toString) eq c1); assert(memoRuns === 2)
      val file = copy.toFile
      assert(file.setLastModified(file.lastModified + 10000L))
      val c2 = memoed(tmp.toString)
      assert(c2 ne c1); assert(memoRuns === 3)
      val mtime = file.lastModified
      java.nio.file.Files.write(copy, Array[Byte](0), java.nio.file.StandardOpenOption.APPEND)
      assert(file.setLastModified(mtime))
      assert(memoed(tmp.toString) ne c2); assert(memoRuns === 4)
    } finally {
      java.nio.file.Files.deleteIfExists(copy)
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("autoNCells: the constant-occupancy law and its fixture floor") {
    // floor = the declared IvfCells = 16 at every fixture scale, so
    // auto-law queries ride the same oracle build CTEs; production
    // growth is linear past 16 * 1250 = 20 k vectors
    assert(Similarity.autoNCells(500L) === 16)
    assert(Similarity.autoNCells(2000L) === 16)
    assert(Similarity.autoNCells(20000L) === 16)
    assert(Similarity.autoNCells(200000L) === 160)
    assert(Similarity.autoNCells(2000000L) === 1600)
    assert(Similarity.autoNCells(16L * Similarity.AutoCellOccupancy) === 16)
    assert(Similarity.autoNCells(16L * Similarity.AutoCellOccupancy + Similarity.AutoCellOccupancy) === 17)
    // r13 ADVICE: out-of-Int-range corpus sizes fail loudly instead of
    // wrapping into a negative/garbage nCells
    intercept[IllegalArgumentException](Similarity.autoNCells(-1L))
    intercept[IllegalArgumentException](
      Similarity.autoNCells((Int.MaxValue.toLong + 1L) * Similarity.AutoCellOccupancy))
  }

  test("graphMaintain: dual-signal gate fires compact+retrain and publishes once; the noop branch holds the settled store (r16/r17)") {
    import graft.queries.SimilarityQueries
    val rep = SparkEntry.queries("ann_graph_maintain")(spark, sf001).collect()(0)
    assert(rep.getAs[Long]("new_share_permille") === 200L)
    assert(rep.getAs[Long]("delete_share_permille") ===
      1000L * rep.getAs[Long]("n_deleted") / rep.getAs[Long]("n_total"))
    assert(rep.getAs[Long]("threshold_permille") ===
      SimilarityQueries.MaintainNewSharePermille)
    // r17 (r16 verdict task 1): the fired action IS the measured
    // policy — the composed CRUD compaction plus the entry retrain,
    // not the consolidate-alone the attribution family proved stays
    // at 740 permille
    assert(rep.getAs[String]("action") === "compact+retrain")
    assert(rep.getAs[Long]("n_store_edges") ===
      SimilarityQueries.crudCompactResult(spark, sf001).count())
    // the retrain ran: entry postings = the surviving corpus
    assert(rep.getAs[Long]("n_entry_postings") ===
      rep.getAs[Long]("n_total") - rep.getAs[Long]("n_deleted"))
    // the published artifact: content-addressed dir written once;
    // every composed-serve surface reloads instead of republishing
    val marker = new java.io.File(graft.operators.Similarity.graphDirFor(
      new java.io.File(Tables.path(sf001, "embeddings")),
      SimilarityQueries.GraphK, SimilarityQueries.IvfCells,
      SimilarityQueries.GraphSeedSalt, 1, SimilarityQueries.IvfCells,
      SimilarityQueries.IvfTrainIters, SimilarityQueries.IvfTrainSample,
      SimilarityQueries.IvfSeed, SimilarityQueries.CrudVariant),
      "edges/_SUCCESS")
    assert(marker.exists, "maintain must publish the CRUD-compacted graph")
    val mtime = marker.lastModified
    SparkEntry.queries("ann_graph_crud_recall")(spark, sf001).collect()
    SparkEntry.queries("ann_graph_maintain_serve")(spark, sf001).collect()
    SparkEntry.queries("ann_graph_maintain")(spark, sf001).collect()
    assert(marker.lastModified === mtime,
      "composed serving must reload the published graph, not republish")
    // planted gate-hold: a threshold above BOTH fixture shares
    // (ingest 200, delete ~144 permille) -> noop, and the store stays
    // on the settled refined edges with the settled entry
    val hold = SimilarityQueries.graphMaintainReport(spark, sf001, 300L)
      .collect()(0)
    assert(hold.getAs[String]("action") === "noop")
    assert(hold.getAs[Long]("new_share_permille") === 200L)
    assert(hold.getAs[Long]("n_store_edges") !==
      rep.getAs[Long]("n_store_edges"),
      "the noop branch must serve the settled store, not the merged one")
    assert(hold.getAs[Long]("n_entry_postings") !==
      rep.getAs[Long]("n_entry_postings"),
      "the noop branch must keep the settled entry, not retrain")
  }

  test("composed CRUD epoch: the gate's serve row equals the declared composition recall; hold emits sentinels; the curve's mod-7 row is the declared delete store (r17)") {
    import graft.queries.SimilarityQueries
    // the maintain-serve row and the composition row share one memo —
    // the gate's published number cannot drift from the declared row
    val serve = SparkEntry.queries("ann_graph_maintain_serve")(spark, sf001)
      .collect()(0)
    val crud = SparkEntry.queries("ann_graph_crud_recall")(spark, sf001)
      .collect()(0)
    assert(serve.getAs[String]("action") === "compact+retrain")
    Seq("n_exact", "n_found", "n_common", "recall_permille").foreach { c =>
      assert(serve.getAs[Long](c) === crud.getAs[Long](c),
        s"maintain_serve.$c diverged from crud_recall")
    }
    // the measured policy's payoff, pinned: the composed store with
    // the retrained entry serves at the retrained-recall family's
    // level (>= 800 permille), NOT the stale-entry incremental 740
    assert(crud.getAs[Long]("recall_permille") >= 800L,
      s"composed serve degenerated: ${crud.getAs[Long]("recall_permille")}")
    // planted hold: below-threshold signals -> no serve ran, -1
    // sentinels (the prior epoch's recall stands)
    val hold = SimilarityQueries.maintainServeReport(spark, sf001, 300L)
      .collect()(0)
    assert(hold.getAs[String]("action") === "noop")
    Seq("n_exact", "n_found", "n_common", "recall_permille").foreach { c =>
      assert(hold.getAs[Long](c) === -1L, s"hold branch must sentinel $c")
    }
    // the composed store contains no tombstoned endpoint, and the
    // inserted cohort's SURVIVORS are first-class nodes (src side)
    val dm = SimilarityQueries.DeletedMod
    val im = SimilarityQueries.InsertedMod
    val edges = SimilarityQueries.crudCompactResult(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    edges.foreach { case (src, nb) =>
      assert((src % dm) !== 0L, s"tombstoned src in the CRUD store: $src")
      assert((nb % dm) !== 0L, s"tombstoned nb in the CRUD store: $nb")
    }
    assert(edges.exists { case (src, _) => src % im == 0L && src % dm != 0L },
      "surviving inserted vectors must be first-class nodes of the CRUD store")
    // delete-share dial: the mod-7 chain IS the declared
    // deleted-recall store (same content address) — counts must match
    val curve = SparkEntry.queries("ann_graph_delete_curve")(spark, sf001)
      .collect().map(r => r.getAs[Long]("deleted_mod") -> r).toMap
    val rec = SparkEntry.queries("ann_graph_deleted_recall")(spark, sf001)
      .collect()(0)
    val m7 = curve(7L)
    Seq("n_exact", "n_found", "n_common", "recall_permille").foreach { c =>
      assert(m7.getAs[Long](c) === rec.getAs[Long](c),
        s"delete_curve mod-7 $c diverged from ann_graph_deleted_recall")
    }
    val m3 = curve(3L)
    assert(m3.getAs[Long]("delete_share_permille") >
      m7.getAs[Long]("delete_share_permille"))
    Seq(m3, m7).foreach { r =>
      val p = r.getAs[Long]("recall_permille")
      assert(p >= 500L && p <= 1000L, s"curve serve degenerated: $p")
    }
    // the composed-store audit: every count pinned to a driver
    // replica over the published CRUD edges (the ann_graph_audit
    // discipline), and the k-bound holds post-merge
    val audit = SparkEntry.queries("ann_graph_crud_audit")(spark, sf001)
      .collect()(0)
    val eset = edges.toSet
    assert(audit.getAs[Long]("n_edges") === edges.length.toLong)
    assert(audit.getAs[Long]("n_nodes") === edges.map(_._1).distinct.length.toLong)
    assert(audit.getAs[Long]("n_reciprocal") ===
      edges.count { case (a, b) => eset.contains((b, a)) }.toLong)
    assert(audit.getAs[Long]("max_out_degree") <=
      SimilarityQueries.GraphK.toLong,
      "the descent round's per-source rank cut bounds out-degree by k")
  }

  test("delete stage: tombstones route but never serve; compaction bridges through them; post-delete serve holds (r16)") {
    import graft.queries.SimilarityQueries
    val dm = SimilarityQueries.DeletedMod
    // tombstone serve: no deleted id in any answer, and the SET law —
    // navigation unchanged means the surviving rows of the classic
    // search appear in the tombstone result at ranks <= their old ones
    val full = SparkEntry.queries("ann_graph_search")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val tomb = SparkEntry.queries("ann_graph_tombstone_search")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(tomb.nonEmpty)
    tomb.foreach { case (_, nb, _) =>
      assert(nb % dm !== 0L, s"tombstoned node served: $nb")
    }
    val tombRank = tomb.map(t => (t._1, t._2) -> t._3).toMap
    full.filter(_._2 % dm != 0L).foreach { case (q, nb, rk) =>
      assert(tombRank.get((q, nb)).exists(_ <= rk),
        s"surviving answer ($q, $nb) lost or demoted by the tombstone filter")
    }
    // compaction: no deleted node anywhere in the published store
    val compact = SparkEntry.queries("ann_graph_delete_compact")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(compact.nonEmpty)
    compact.foreach { case (src, nb) =>
      assert((src % dm) !== 0L, s"deleted src survived compaction: ($src, $nb)")
      assert((nb % dm) !== 0L, s"deleted nb survived compaction: ($src, $nb)")
    }
    // the bridge law on a planted chain: A's only edge runs through
    // deleted D to B — the repair must propose (A, B), not orphan A
    import spark.implicits._
    val planted = Seq((1L, 7L), (7L, 2L), (2L, 3L)).toDF("vec_id", "neighbor_id")
    val bridged = SimilarityQueries.tombstoneBridge(planted, dm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bridged === Set((1L, 2L), (2L, 3L)),
      s"bridge repair wrong: $bridged")
    // post-delete serve: counts sane, store genuinely useful
    val rec = SparkEntry.queries("ann_graph_deleted_recall")(spark, sf001)
      .collect()(0)
    assert(rec.getAs[Long]("n_queries") === 10L)
    val rp = rec.getAs[Long]("recall_permille")
    assert(rp >= 500L && rp <= 1000L,
      s"post-delete serve degenerated: $rp permille")
    info(s"post-delete serve recall $rp permille over the remaining corpus")
  }

  test("gap attribution: retrained entry recovers the incremental-serve gap; second round and degree cap measured (r16)") {
    import graft.queries.SimilarityQueries
    val cons = SparkEntry.queries("ann_graph_consolidated_recall")(spark, sf001)
      .collect()(0)
    val rt = SparkEntry.queries("ann_graph_retrained_recall")(spark, sf001)
      .collect()(0)
    val c2 = SparkEntry.queries("ann_graph_consolidate2_recall")(spark, sf001)
      .collect()(0)
    val cap = SparkEntry.queries("ann_graph_capped_recall")(spark, sf001)
      .collect()(0)
    Seq(rt, c2, cap).foreach { r =>
      assert(r.getAs[Long]("n_queries") === 10L)
      val p = r.getAs[Long]("recall_permille")
      assert(p >= 0L && p <= 1000L)
      assert(r.getAs[Long]("n_common") <= r.getAs[Long]("n_exact"))
    }
    assert(cap.getAs[Long]("cap_r") === SimilarityQueries.CapR.toLong)
    // the story the family exists to measure, pinned at the fixture:
    // the stale entry is the WHOLE gap — swapping in the retrained
    // quantizer serves at (or above) the from-scratch rebuild's level,
    // while a second compaction round buys nothing
    val rebuild = SparkEntry.queries("ann_graph_search_recall")(spark, sf001)
      .collect()(0)
    assert(rt.getAs[Long]("recall_permille") >
      cons.getAs[Long]("recall_permille"),
      "retrained entry must improve on the settled entry at the fixture")
    assert(rt.getAs[Long]("recall_permille") >=
      rebuild.getAs[Long]("recall_permille"),
      "fixture: the retrained entry reaches the rebuild's serving level")
    assert(cap.getAs[Long]("recall_permille") >= 500L,
      "the degree-capped store degenerated")
    // the capped store honors its own bound: no node holds more than
    // CapR out-edges after the cap window
    val maxDeg = SimilarityQueries.cappedEdges(spark, sf001)
      .groupBy("vec_id").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxDeg <= SimilarityQueries.CapR.toLong)
    info(s"consolidated ${cons.getAs[Long]("recall_permille")} / retrained " +
      s"${rt.getAs[Long]("recall_permille")} / 2-round " +
      s"${c2.getAs[Long]("recall_permille")} / capped " +
      s"${cap.getAs[Long]("recall_permille")} vs rebuild " +
      s"${rebuild.getAs[Long]("recall_permille")} permille")
  }
}
