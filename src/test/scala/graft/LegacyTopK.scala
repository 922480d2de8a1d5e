package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.Similarity
import graft.operators.Similarity.{IvfIndex, PqIndex}

/** The window formulation of the bounded-heap top-k family: every
  * candidate scored into a frame and ranked by a Catalyst
  * `row_number()` over (score desc, neighbor_id) per query_id, the kNN
  * vote a grouped count plus a second window. It is the definition the
  * one-job operators of [[graft.operators.Similarity]] must reproduce
  * row for row, and the shape of their DuckDB oracles. The IVF probes
  * are their old plans verbatim. The flat operators' old plans also
  * pruned each partition with a heap before the window; the heaps are
  * left out here, because they only dropped candidates the window
  * drops, and they ordered −0.0 below 0.0 where the window ties them.
  * The PQ and LSH operators are their old plans verbatim (the window
  * over a broadcast join; for LSH a bucket join and
  * `dropDuplicates`). */
object LegacyTopK {

  private def ranked(scored: DataFrame, score: String, k: Int,
                     payload: String*): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col(score).desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq("query_id", "neighbor_id", "rank") ++ payload :+ score).map(col): _*)
  }

  private def vote(cands: DataFrame, queries: Array[(Long, Int, Array[Double])],
                   k: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val votes = cands
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy("query_id", "neighbor_label")
      .agg(count(lit(1)).as("n_votes"))
    val pick = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("neighbor_label"))
    val pred = votes
      .withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("neighbor_label").as("pred_label"),
        col("n_votes"))
    val truth = spark.createDataset(
      queries.toSeq.map { case (qid, ql, _) => (qid, ql) })
      .toDF("query_id", "true_label")
    pred.join(broadcast(truth), "query_id")
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("n_votes"),
        (col("true_label") === col("pred_label")).cast("int").as("correct"))
      .orderBy("query_id")
  }

  private def labeledRows(embs: DataFrame, idCol: String, vecCol: String, labelCol: String) = {
    val spark = embs.sparkSession
    import spark.implicits._
    embs.select(col(idCol).cast("long").as("id"), col(labelCol).cast("int").as("lbl"),
      VectorOps.toDouble(col(vecCol)).as("v")).as[(Long, Int, Array[Double])]
  }

  private def rows(embs: DataFrame, idCol: String, vecCol: String) = {
    val spark = embs.sparkSession
    import spark.implicits._
    embs.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("v")).as[(Long, Array[Double])]
  }

  private def norm(v: Array[Double]): Double = math.sqrt(VectorOps.dotSeq(v, v))

  def bruteForceTopK(embs: DataFrame, idCol: String, vecCol: String,
                     queries: Array[(Long, Array[Double])], k: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val qs = queries.map { case (qid, v) => (qid, v, norm(v)) }
    val scored = rows(embs, idCol, vecCol).flatMap { case (id, v) =>
      qs.iterator.filter(_._1 != id).map { case (qid, qv, qn) =>
        (qid, id, VectorOps.dotSeq(qv, v) / (qn * norm(v)))
      }
    }.toDF("query_id", "neighbor_id", "cosine")
    ranked(scored, "cosine", k)
  }

  def mipsTopK(embs: DataFrame, idCol: String, vecCol: String,
               queries: Array[(Long, Array[Double])], k: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val scored = rows(embs, idCol, vecCol).flatMap { case (id, v) =>
      queries.iterator.filter(_._1 != id).map { case (qid, qv) =>
        (qid, id, VectorOps.dotSeq(qv, v))
      }
    }.toDF("query_id", "neighbor_id", "dot")
    ranked(scored, "dot", k)
  }

  def quantTopK(embs: DataFrame, idCol: String, vecCol: String,
                queries: Array[(Long, Array[Double])], k: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val qs = queries.map { case (qid, v) => (qid, Similarity.quantizeInt8(v)) }
    val scored = rows(embs, idCol, vecCol).flatMap { case (id, v) =>
      val qv = Similarity.quantizeInt8(v)
      qs.iterator.filter(_._1 != id).map { case (qid, qq) =>
        (qid, id, qq.indices.foldLeft(0L)((s, j) => s + qq(j) * qv(j)))
      }
    }.toDF("query_id", "neighbor_id", "score")
    ranked(scored, "score", k)
  }

  def hardNegativesTopK(embs: DataFrame, idCol: String, vecCol: String, labelCol: String,
                        queries: Array[(Long, Int, Array[Double])], k: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val qs = queries.map { case (qid, ql, v) => (qid, ql, v, norm(v)) }
    val scored = labeledRows(embs, idCol, vecCol, labelCol).flatMap { case (id, lbl, v) =>
      qs.iterator.filter(q => q._1 != id && q._2 != lbl).map { case (qid, _, qv, qn) =>
        (qid, id, lbl, VectorOps.dotSeq(qv, v) / (qn * norm(v)))
      }
    }.toDF("query_id", "neighbor_id", "neighbor_label", "cosine")
    ranked(scored, "cosine", k, "neighbor_label")
  }

  def knnClassify(embs: DataFrame, idCol: String, vecCol: String, labelCol: String,
                  queries: Array[(Long, Int, Array[Double])], k: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val excluded = queries.map(_._1).toSet
    val qs = queries.map { case (qid, _, v) => (qid, v, norm(v)) }
    val scored = labeledRows(embs, idCol, vecCol, labelCol)
      .filter(r => !excluded.contains(r._1))
      .flatMap { case (id, lbl, v) =>
        qs.iterator.map { case (qid, qv, qn) =>
          (qid, id, lbl, VectorOps.dotSeq(qv, v) / (qn * norm(v)))
        }
      }.toDF("query_id", "neighbor_id", "neighbor_label", "cosine")
    vote(scored, queries, k)
  }

  def probe(index: IvfIndex, queries: Array[(Long, Array[Double])],
            k: Int, nProbe: Int = 4): DataFrame = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    val probes = queries.flatMap { case (qid, qv) =>
      index.centers.zipWithIndex
        .map { case (c, cid) => (VectorOps.sqdistSeq(qv, c), cid) }
        .sortBy { case (d, cid) => (d, cid) }
        .take(nProbe)
        .map { case (_, cid) => (qid, qv, math.sqrt(VectorOps.dotSeq(qv, qv)), cid) }
    }.toSeq
    val qdf = probes.toDF("query_id", "qv", "qn", "cell")
    val neededCells = probes.map(_._4).distinct
    val scored = index.cells
      .filter(col("cell").isin(neededCells: _*))
      .join(broadcast(qdf), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("qn"), col("id"), col("v"))
      .as[(Long, Array[Double], Double, Long, Array[Double])]
      .map { case (qid, qv, qn, id, v) =>
        (qid, id, VectorOps.dotSeq(qv, v) / (qn * math.sqrt(VectorOps.dotSeq(v, v))))
      }.toDF("query_id", "neighbor_id", "cosine")
    ranked(scored, "cosine", k)
  }

  /** The labeled probe candidates: [[probe]]'s cell-pruned scan with the
    * corpus label attached by an id-keyed join, every candidate with
    * both labels. */
  private def labeledProbeCands(index: IvfIndex, labels: DataFrame,
                                idCol: String, labelCol: String,
                                queries: Array[(Long, Int, Array[Double])],
                                nProbe: Int): DataFrame = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    val probes = queries.flatMap { case (qid, ql, qv) =>
      index.centers.zipWithIndex
        .map { case (c, cid) => (VectorOps.sqdistSeq(qv, c), cid) }
        .sortBy { case (d, cid) => (d, cid) }
        .take(nProbe)
        .map { case (_, cid) => (qid, ql, qv, math.sqrt(VectorOps.dotSeq(qv, qv)), cid) }
    }.toSeq
    val qdf = probes.toDF("query_id", "qlabel", "qv", "qn", "cell")
    val neededCells = probes.map(_._5).distinct
    val lb = labels.select(col(idCol).cast("long").as("id"),
      col(labelCol).cast("int").as("lbl"))
    index.cells
      .filter(col("cell").isin(neededCells: _*))
      .join(lb, "id")
      .join(broadcast(qdf), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("qv"), col("qn"),
        col("id"), col("lbl"), col("v"))
      .as[(Long, Int, Array[Double], Double, Long, Int, Array[Double])]
      .map { case (qid, ql, qv, qn, id, lbl, v) =>
        (qid, ql, id, lbl,
          VectorOps.dotSeq(qv, v) / (qn * math.sqrt(VectorOps.dotSeq(v, v))))
      }.toDF("query_id", "qlabel", "neighbor_id", "neighbor_label", "cosine")
  }

  def hardNegativesIvf(index: IvfIndex, labels: DataFrame, idCol: String, labelCol: String,
                       queries: Array[(Long, Int, Array[Double])],
                       k: Int, nProbe: Int = 4): DataFrame =
    ranked(labeledProbeCands(index, labels, idCol, labelCol, queries, nProbe)
      .filter(col("neighbor_label") =!= col("qlabel")), "cosine", k, "neighbor_label")

  def knnClassifyIvf(index: IvfIndex, labels: DataFrame, idCol: String, labelCol: String,
                     queries: Array[(Long, Int, Array[Double])],
                     k: Int, nProbe: Int = 4): DataFrame = {
    val qids = queries.map(q => java.lang.Long.valueOf(q._1)).toSeq
    vote(labeledProbeCands(index, labels, idCol, labelCol, queries, nProbe)
      .filter(!col("neighbor_id").isin(qids: _*)), queries, k)
  }

  /** `Similarity.probePq`'s old plan verbatim: the probed cells joined
    * to the broadcast (query, cell) rows, encoded by the compiled
    * per-subspace argmins, reconstructed by codeword lookups, scored by
    * one `vec_sqdist` and ranked by a window (sqdist ascending, so a
    * null score ranks first). */
  def probePq(index: IvfIndex, codebooks: Array[Array[Array[Double]]],
              queries: Array[(Long, Array[Double])], k: Int,
              nProbe: Int = 4): DataFrame = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val dim = codebooks.map(_.head.length).sum
    val sub = dim / m
    val probes = queries.flatMap { case (qid, qv) =>
      index.centers.zipWithIndex
        .map { case (c, cid) => (VectorOps.sqdistSeq(qv, c), cid) }
        .sortBy { case (d, cid) => (d, cid) }
        .take(nProbe)
        .map { case (_, cid) => (qid, qv, cid) }
    }.toSeq
    val qdf = probes.toDF("query_id", "qv", "cell")
    val neededCells = probes.map(_._3).distinct
    val cand = index.cells
      .filter(col("cell").isin(neededCells: _*))
      .join(broadcast(qdf), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
    val coded = (0 until m).foldLeft(cand) { (df, j) =>
      val (cid, _) = graft.cluster.KMeansNative.argminColumns(
        slice(col("v"), j * sub + 1, sub), codebooks(j))
      df.withColumn(s"_c$j", cid)
    }
    val recon = concat((0 until m).map { j =>
      element_at(typedLit(codebooks(j).map(_.toSeq).toSeq), col(s"_c$j") + 1)
    }: _*)
    val scored = coded.select(col("query_id"), col("id").as("neighbor_id"),
      graft.plans.expressions.vec_sqdist(col("qv"), recon).as("sqdist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sqdist").asc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sqdist"))
  }

  /** `Similarity.pqProbe`'s old plan verbatim: the stored codes looked
    * up in the codebooks, a broadcast nested-loop join with the
    * queries, one `vec_sqdist` and the window. */
  def pqProbe(index: PqIndex, queries: Array[(Long, Array[Double])], k: Int): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val cb = index.codebooks
    val m = cb.length
    val recon = concat((0 until m).map { j =>
      element_at(typedLit(cb(j).map(_.toSeq).toSeq), element_at(col("codes"), j + 1) + 1)
    }: _*)
    val withRecon = index.codes.select(col("id").as("neighbor_id"), recon.as("recon"))
    val qdf = broadcast(queries.toSeq.toDF("query_id", "qv"))
    val scored = withRecon.join(qdf, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.plans.expressions.vec_sqdist(col("qv"), col("recon")).as("sqdist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sqdist").asc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sqdist"))
  }

  /** `Similarity.pqTopK`'s old plan verbatim (codebooks given): the
    * corpus encoded and reconstructed in the plan, joined to the
    * broadcast queries, scored and ranked by the window. */
  def pqTopK(embs: DataFrame, idCol: String, vecCol: String,
             queries: Array[(Long, Array[Double])], k: Int, m: Int,
             cb: Array[Array[Array[Double]]]): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val dim = cb.map(_.head.length).sum
    val sub = dim / m
    val p = embs.select(col(idCol).cast("long").as("neighbor_id"),
      VectorOps.toDouble(col(vecCol)).as("v"))
    val coded = (0 until m).foldLeft(p) { (df, j) =>
      val (cid, _) = graft.cluster.KMeansNative.argminColumns(
        slice(col("v"), j * sub + 1, sub), cb(j))
      df.withColumn(s"_c$j", cid)
    }
    val recon = concat((0 until m).map { j =>
      element_at(typedLit(cb(j).map(_.toSeq).toSeq), col(s"_c$j") + 1)
    }: _*)
    val withRecon = coded.select(col("neighbor_id"), recon.as("recon"))
    val qdf = broadcast(queries.toSeq.toDF("query_id", "qv"))
    val scored = withRecon.join(qdf, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.plans.expressions.vec_sqdist(col("qv"), col("recon")).as("sqdist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sqdist").asc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sqdist"))
  }

  /** `Similarity.lshTopK`'s old plan verbatim: the bucket join, then a
    * window over the deduplicated candidates' cosines. */
  def lshTopK(embs: DataFrame, idCol: String, vecCol: String,
              queries: Array[(Long, Array[Double])], k: Int,
              nTables: Int = 8, bits: Int = 4, seed: Long = 42L): DataFrame = {
    val scored = lshScores(embs, idCol, vecCol, queries, nTables, bits, seed)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** `Similarity.lshRadius`'s old plan verbatim: the bucket join and a
    * Catalyst `>=` filter. */
  def lshRadius(embs: DataFrame, idCol: String, vecCol: String,
                queries: Array[(Long, Array[Double])], minCosine: Double,
                nTables: Int = 8, bits: Int = 4, seed: Long = 42L): DataFrame =
    lshScores(embs, idCol, vecCol, queries, nTables, bits, seed)
      .filter(col("cosine") >= minCosine)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))

  /** Shared LSH candidate scoring: bucket join + exact cosine on the
    * deduplicated candidate pairs. */
  private def lshScores(embs: DataFrame, idCol: String, vecCol: String,
                        queries: Array[(Long, Array[Double])],
                        nTables: Int, bits: Int, seed: Long): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val dim = queries.head._2.length
    val planes = Similarity.intPlanes(nTables, bits, dim, seed)
    val pb = spark.sparkContext.broadcast(planes)
    val p = embs.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("v")).as[(Long, Array[Double])]
    val buckets = p.mapPartitions { iter =>
      val pl = pb.value
      iter.flatMap { case (id, v) =>
        val qv = Similarity.quantize(v)
        pl.iterator.zipWithIndex.map { case (tp, t) => (id, v, t, Similarity.bucketOf(qv, tp)) }
      }
    }.toDF("id", "v", "table", "bucket")
    val qRows = queries.flatMap { case (qid, qv) =>
      planes.zipWithIndex.map { case (tp, t) =>
        (qid, qv, math.sqrt(VectorOps.dotSeq(qv, qv)), t,
          Similarity.bucketOf(Similarity.quantize(qv), tp))
      }
    }.toSeq
    val qdf = qRows.toDF("query_id", "qv", "qn", "table", "bucket")
    val cand = buckets.join(broadcast(qdf), Seq("table", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .dropDuplicates("query_id", "id")
      .as[(Int, Int, Long, Array[Double], Long, Array[Double], Double)]
    cand.map { case (_, _, id, v, qid, qv, qn) =>
      val c = VectorOps.dotSeq(qv, v) / (qn * math.sqrt(VectorOps.dotSeq(v, v)))
      (qid, id, c)
    }.toDF("query_id", "neighbor_id", "cosine")
  }

  /** `Similarity.sampledTopK`'s old plan verbatim: per-partition heaps
    * under `java.lang.Double.compare`, then the window. The
    * broadcast-queries exact top-k kernel for the sampled margin
    * ground truth: per query, its k max-cosine rows of `corpus`,
    * returned as driver rows (query, corpus-row, cosine) — callers'
    * query sets are Q- or Q·k-bounded. `queryFoldsFirst` preserves
    * the margin family's x-vector-folds-first rule on both call
    * sites (queries = x-side in stage 1, corpus = x-side in stage
    * 2), so every cosine is the exact double of the full kernel and
    * the oracle. No self-exclusion — the two sides come from
    * disjoint predicates ([[marginKnnMining]]'s contract). */
  def sampledTopK(corpus: DataFrame,
                          queries: Array[(Long, Array[Double])], k: Int,
                          queryFoldsFirst: Boolean): Array[(Long, Long, Double)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qb = spark.sparkContext.broadcast(
      queries.map { case (qid, v) => (qid, v, math.sqrt(VectorOps.dotSeq(v, v))) })
    val qFirst = queryFoldsFirst
    val partial = corpus.as[(Long, Array[Double])].mapPartitions { iter =>
      val qs = qb.value
      val ord = Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])
      val heaps = qs.map(_ => new graft.functions.BoundedTopK[(Double, Long)](k, ord))
      iter.foreach { case (id, v) =>
        val n = math.sqrt(VectorOps.dotSeq(v, v))
        var qi = 0
        while (qi < qs.length) {
          val (_, qv, qn) = qs(qi)
          val c =
            if (qFirst) VectorOps.dotSeq(qv, v) / (qn * n)
            else VectorOps.dotSeq(v, qv) / (n * qn)
          heaps(qi).offer((c, id))
          qi += 1
        }
      }
      qs.iterator.zipWithIndex.flatMap { case ((qid, _, _), qi) =>
        heaps(qi).iterator.map { case (c, id) => (qid, id, c) }
      }
    }.toDF("qid", "id", "cosine")
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    partial.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("qid"), col("id"), col("cosine"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  }
}
