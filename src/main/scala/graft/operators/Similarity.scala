package graft.operators

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.functions.{BoundedTopK, VectorOps}
import graft.plans.ArgminKernel
import graft.util.Jobs.{persisted, roundJob}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design (SURVEY.md §2.2 / north-star):
  *  - [[bruteForceTopK]] — exact baseline. Query vectors (small: Q·d
  *    doubles) ride in the task closure; each partition keeps a
  *    bounded per-query heap, so at most Q × k × numPartitions
  *    candidates are collected for the driver's final merge — input
  *    rows never leave their partition.
  *  - [[lshTopK]] — the scale path: L sign-bucket tables over
  *    deterministic integer hyperplanes; a row is a candidate when it
  *    shares any table's bucket with the query (the query buckets ride
  *    in the closure, each row's are computed in the same scan — no
  *    join, no shuffle), ranked by exact cosine. Candidate probability
  *    for angle θ: 1 − (1 − (1 − θ/π)^bits)^L.
  *
  * All cosines are computed with the same left-to-right fold order as
  * the DuckDB oracle (dot / (‖a‖·‖b‖)), so results hash-match.
  */
object Similarity {

  /** VECTOR-TABLE AUDIT — the validation gate a pipeline runs before
    * spending an indexing job on an embedding column: one scan, one
    * 1-row report of everything that breaks an ANN index downstream
    * (wrong-dimension rows poison PQ codebooks, zero-norm vectors make
    * cosine undefined, non-finite components corrupt every distance).
    * Norm² uses the fold-order-matched [[VectorOps.dot]] so the min /
    * max bounds floor to the same micros in any engine (the cosine
    * determinism idiom); every output is BIGINT. Zero shuffle beyond
    * the single partial+final aggregate.
    *
    * The min/max norm² bounds are defined over FINITE norms only
    * (r10 ADVICE): a NaN/±Inf norm is already counted by
    * `n_nonfinite`, and letting it reach the bound columns makes them
    * engine-dependent exactly when the defects they audit are present
    * — Spark's floor-to-long maps NaN→0 (indistinguishable from a
    * legitimate tiny norm) and +Inf→Long.MaxValue, while DuckDB's
    * min/max propagate the non-finite value into a CAST that errors. */
  def vectorAudit(embs: DataFrame, idCol: String, vecCol: String,
                  expectDim: Int): DataFrame = {
    val v = VectorOps.toDouble(col(vecCol))
    val n2 = VectorOps.dot(v, v)
    val finiteN2 = when(!isnan(col("n2")) &&
      col("n2") =!= Double.PositiveInfinity &&
      col("n2") =!= Double.NegativeInfinity, col("n2"))
    embs
      .select(col(vecCol).isNull.as("is_null"), size(col(vecCol)).as("dim"),
        n2.as("n2"))
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(when(col("is_null"), 1L).otherwise(0L)).as("n_null"),
        sum(when(!col("is_null") && col("dim") =!= expectDim, 1L)
          .otherwise(0L)).as("n_wrong_dim"),
        sum(when(col("n2") === 0.0, 1L).otherwise(0L)).as("n_zero_norm"),
        sum(when(isnan(col("n2")) || col("n2") === Double.PositiveInfinity, 1L)
          .otherwise(0L)).as("n_nonfinite"),
        min(floor(finiteN2 * 1000000.0)).as("min_norm2_micros"),
        max(floor(finiteN2 * 1000000.0)).as("max_norm2_micros"))
  }

  /** The window's order: score descending under Spark's own double
    * comparison (−0.0 equals 0.0, NaN is largest), then id ascending. */
  private def scoreDesc(s1: Double, id1: Long, s2: Double, id2: Long): Int = {
    val c = SQLOrderingUtil.compareDoubles(s2, s1)
    if (c != 0) c else java.lang.Long.compare(id1, id2)
  }
  private val ScoreDesc: Ordering[(Double, Long)] = (a, b) => scoreDesc(a._1, a._2, b._1, b._2)
  private val LabeledDesc: Ordering[(Double, Long, Int)] =
    (a, b) => scoreDesc(a._1, a._2, b._1, b._2)
  /** `sqdist ASC` then id: a null score first, then Spark's double
    * order (−0.0 equals 0.0, NaN last). */
  private val SqDistAsc: Ordering[(java.lang.Double, Long)] = { (a, b) =>
    val c =
      if (a._1 == null) (if (b._1 == null) 0 else -1)
      else if (b._1 == null) 1
      else SQLOrderingUtil.compareDoubles(a._1, b._1)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }
  private val IntScoreDesc: Ordering[(Long, Long)] = (a, b) =>
    if (a._1 != b._1) java.lang.Long.compare(b._1, a._1) else java.lang.Long.compare(a._2, b._2)

  /** The one tail of the bounded-heap top-k family. `scan` is one
    * task's per-row loop over its partition of `rows`' internal rows
    * (`toRdd`), returning one heap per query in query order. It runs as ONE job, described
    * `Similarity.<op> top-k`; the driver merges the heaps in `ord` per
    * distinct query id (the window's partitioning) and keeps k. Returns
    * each distinct query id, first appearance first, with its ranking. */
  private def topK[C <: AnyRef](op: String, rows: DataFrame, qids: Array[Long],
                                k: Int, ord: Ordering[C])
                               (scan: Iterator[InternalRow] => Array[BoundedTopK[C]])
      : Seq[(Long, Seq[C])] = {
    val parts = roundJob(rows.queryExecution.toRdd, s"Similarity.$op top-k")(
      scan(_).map(_.iterator.toVector))
    val entries = qids.indices.groupBy(qids(_))
    qids.distinct.toSeq.map { qid =>
      qid -> entries(qid).flatMap(qi => parts.iterator.flatMap(_(qi))).sorted(ord).take(k)
    }
  }

  /** `embs` as the rows (id, vector, extra...) a top-k scans. */
  private def scanRows(embs: DataFrame, idCol: String, vecCol: String,
                       extra: Column*): DataFrame =
    embs.select(Seq(col(idCol).cast("long"), VectorOps.toDouble(col(vecCol))) ++ extra: _*)

  /** A top-k result as a local ONE-partition frame (a caller's `orderBy`
    * is then one task, no exchange); columns non-null, as the window's,
    * but for the `nullable` ones. */
  private def localFrame(spark: SparkSession, cols: Seq[(String, DataType)],
                         rows: Seq[Row], nullable: Set[String] = Set.empty): DataFrame =
    spark.createDataFrame(rows.asJava,
      StructType(cols.map { case (n, t) => StructField(n, t, nullable(n)) })).coalesce(1)

  /** (query_id, neighbor_id, rank, `score`) rows of (score, id) candidates. */
  private def rankedFrame[S](spark: SparkSession, score: String, scoreType: DataType,
                             merged: Seq[(Long, Seq[(S, Long)])],
                             nullable: Set[String] = Set.empty): DataFrame =
    localFrame(spark, Seq("query_id" -> LongType, "neighbor_id" -> LongType,
        "rank" -> IntegerType, score -> scoreType),
      for ((qid, cs) <- merged; ((s, id), i) <- cs.zipWithIndex) yield Row(qid, id, i + 1, s),
      nullable)

  /** (query_id, neighbor_id, rank, neighbor_label, cosine) rows. */
  private def labeledFrame(spark: SparkSession,
                           merged: Seq[(Long, Seq[(Double, Long, Int)])]): DataFrame =
    localFrame(spark, Seq("query_id" -> LongType, "neighbor_id" -> LongType,
        "rank" -> IntegerType, "neighbor_label" -> IntegerType, "cosine" -> DoubleType),
      for ((qid, cs) <- merged; ((c, id, lbl), i) <- cs.zipWithIndex)
        yield Row(qid, id, i + 1, lbl, c))

  /** The kNN vote, on the driver over Q·k rows: each query's most
    * frequent label among its merged top-k, ties toward the smaller
    * label. A query without voters emits no row; rows are ordered by
    * query_id. `correct` is an Int flag (1 iff true_label =
    * pred_label). */
  private def voteFrame(spark: SparkSession, queries: Array[(Long, Int, Array[Double])],
                        merged: Seq[(Long, Seq[(Double, Long, Int)])]): DataFrame = {
    val top = merged.toMap
    localFrame(spark, Seq("query_id" -> LongType, "true_label" -> IntegerType,
        "pred_label" -> IntegerType, "n_votes" -> LongType, "correct" -> IntegerType),
      queries.toSeq.sortBy(_._1).flatMap { case (qid, ql, _) =>
        top(qid).groupBy(_._3).map { case (l, vs) => (l, vs.size.toLong) }
          .minByOption { case (l, n) => (-n, l) }
          .map { case (pred, n) => Row(qid, ql, pred, n, if (pred == ql) 1 else 0) }
      })
  }

  /** Exact top-k cosine neighbors for each query vector.
    * Output: (query_id, neighbor_id, rank, cosine). Self-matches are
    * excluded; ties break toward the lower neighbor id.
    *
    * NOTE on the family: this operator, [[mipsTopK]], [[quantTopK]],
    * [[hardNegativesTopK]], [[knnClassify]], [[probe]],
    * [[hardNegativesIvf]], [[knnClassifyIvf]], [[lshTopK]],
    * [[pqTopK]], [[pqProbe]] and [[probePq]] are each ONE job, run
    * when called, through [[topK]]: a [[BoundedTopK]] per query per
    * task, a driver merge in the window's order, a local
    * one-partition frame; no window, join or exchange. [[lshRadius]]
    * is the lazy member: it has no k, so it is the same per-row scan
    * as a `mapPartitions` over the corpus plan, run by the caller's
    * action, with no heap and no collect. The per-row
    * loop is intentionally REPEATED per operator, not a shared
    * scorer/filter closure: a closure call per row would put a
    * megamorphic call site inside the O(n·Q·d) hot path the JIT
    * otherwise inlines; the loops differ only in the skip predicate,
    * the score and the payload. */
  def bruteForceTopK(embs: DataFrame, idCol: String, vecCol: String,
                     queries: Array[(Long, Array[Double])], k: Int): DataFrame = {
    val qs = queries.map { case (qid, v) => (qid, v, math.sqrt(VectorOps.dotSeq(v, v))) }
    val merged = topK("bruteForceTopK", scanRows(embs, idCol, vecCol), queries.map(_._1), k,
        ScoreDesc) { rows =>
      val heaps = qs.map(_ => new BoundedTopK[(Double, Long)](k, ScoreDesc))
      rows.foreach { r =>
        val id = r.getLong(0)
        val v = r.getArray(1).toDoubleArray()
        val n = math.sqrt(VectorOps.dotSeq(v, v))
        var qi = 0
        while (qi < qs.length) {
          val (qid, qv, qn) = qs(qi)
          if (id != qid) heaps(qi).offer((VectorOps.dotSeq(qv, v) / (qn * n), id))
          qi += 1
        }
      }
      heaps
    }
    rankedFrame(embs.sparkSession, "cosine", DoubleType, merged)
  }

  /** HARD-NEGATIVE mining — the candidate generator for contrastive /
    * dual-encoder training (in-batch negatives are mostly easy; the
    * negatives that move the loss are the most-similar vectors of a
    * DIFFERENT class): for each query, the exact top-k cosine
    * neighbors whose label differs from the query's. Same distributed
    * shape as [[bruteForceTopK]] — queries (with their labels) in the
    * closure, per-partition bounded heaps that skip same-label rows,
    * Q·k·numPartitions candidates to the driver's merge; at 100 TB the
    * candidate stage swaps to the IVF/LSH index family
    * ([[hardNegativesIvf]]) and the label filter rides the probe
    * unchanged. Output carries the negative's label so a training-pair
    * writer can stratify. */
  def hardNegativesTopK(embs: DataFrame, idCol: String, vecCol: String,
                        labelCol: String,
                        queries: Array[(Long, Int, Array[Double])],
                        k: Int): DataFrame = {
    val qs = queries.map { case (qid, ql, v) => (qid, ql, v, math.sqrt(VectorOps.dotSeq(v, v))) }
    val rows = scanRows(embs, idCol, vecCol, col(labelCol).cast("int"))
    val merged = topK("hardNegativesTopK", rows, queries.map(_._1), k, LabeledDesc) { it =>
      val heaps = qs.map(_ => new BoundedTopK[(Double, Long, Int)](k, LabeledDesc))
      it.foreach { r =>
        val id = r.getLong(0)
        val lbl = r.getInt(2)
        val v = r.getArray(1).toDoubleArray()
        val n = math.sqrt(VectorOps.dotSeq(v, v))
        var qi = 0
        while (qi < qs.length) {
          val (qid, ql, qv, qn) = qs(qi)
          if (id != qid && lbl != ql)
            heaps(qi).offer((VectorOps.dotSeq(qv, v) / (qn * n), id, lbl))
          qi += 1
        }
      }
      heaps
    }
    labeledFrame(embs.sparkSession, merged)
  }

  /** kNN CLASSIFICATION — weak labeling by neighbor vote: each query
    * vector (its own label withheld) is assigned the majority label
    * of its k most-cosine-similar LABELED vectors, the
    * semi-supervised filter a pipeline runs to extend a small labeled
    * seed set over an unlabeled corpus (and, run over held-out
    * labeled rows as here, the standard embedding-quality probe —
    * "does the space cluster by label?"). The whole query batch is
    * excluded from the voter pool, not just the self-match: in the
    * weak-labeling setting the unlabeled rows must not vote.
    *
    * Same distributed shape as [[bruteForceTopK]] — queries + their
    * id set in the closure, per-partition bounded heaps,
    * Q·k·partitions candidates to the driver's merge; the vote runs on
    * the driver over Q·k rows, ties break toward the SMALLER label
    * (deterministic). At 100 TB the candidate stage swaps to the
    * IVF/LSH index family ([[knnClassifyIvf]]) and the vote rides the
    * probe output unchanged. Output: (query_id, true_label,
    * pred_label, n_votes, correct), ordered by query_id — `correct` an
    * Int flag (1 iff true_label = pred_label), not a boolean. */
  def knnClassify(embs: DataFrame, idCol: String, vecCol: String,
                  labelCol: String,
                  queries: Array[(Long, Int, Array[Double])],
                  k: Int): DataFrame = {
    val excluded = queries.map(_._1).toSet
    val qs = queries.map { case (qid, _, v) => (qid, v, math.sqrt(VectorOps.dotSeq(v, v))) }
    val rows = scanRows(embs, idCol, vecCol, col(labelCol).cast("int"))
    val merged = topK("knnClassify", rows, queries.map(_._1), k, LabeledDesc) { it =>
      val heaps = qs.map(_ => new BoundedTopK[(Double, Long, Int)](k, LabeledDesc))
      it.foreach { r =>
        val id = r.getLong(0)
        if (!excluded.contains(id)) {
          val lbl = r.getInt(2)
          val v = r.getArray(1).toDoubleArray()
          val n = math.sqrt(VectorOps.dotSeq(v, v))
          var qi = 0
          while (qi < qs.length) {
            val (_, qv, qn) = qs(qi)
            heaps(qi).offer((VectorOps.dotSeq(qv, v) / (qn * n), id, lbl))
            qi += 1
          }
        }
      }
      heaps
    }
    voteFrame(embs.sparkSession, queries, merged)
  }

  /** Exact top-k MAXIMUM-INNER-PRODUCT neighbors for each query
    * vector — the retrieval scoring used when embeddings are trained
    * with a dot-product objective (e.g. dual-encoder retrievers),
    * where the cosine's norm division would re-rank away the learned
    * magnitude signal. Same distributed shape as [[bruteForceTopK]]:
    * queries in the closure, per-partition bounded heaps, only
    * Q·k·numPartitions candidates to the driver's merge. The dot is
    * the identical left-to-right [[VectorOps.dotSeq]] fold the DuckDB
    * oracle's `list_sum(list_transform(...))` computes, so scores
    * hash-match bit-for-bit. Output: (query_id, neighbor_id, rank,
    * dot); self-matches excluded; ties break toward the lower neighbor
    * id. */
  def mipsTopK(embs: DataFrame, idCol: String, vecCol: String,
               queries: Array[(Long, Array[Double])], k: Int): DataFrame = {
    val merged = topK("mipsTopK", scanRows(embs, idCol, vecCol), queries.map(_._1), k,
        ScoreDesc) { rows =>
      val heaps = queries.map(_ => new BoundedTopK[(Double, Long)](k, ScoreDesc))
      rows.foreach { r =>
        val id = r.getLong(0)
        val v = r.getArray(1).toDoubleArray()
        var qi = 0
        while (qi < queries.length) {
          val (qid, qv) = queries(qi)
          if (id != qid) heaps(qi).offer((VectorOps.dotSeq(qv, v), id))
          qi += 1
        }
      }
      heaps
    }
    rankedFrame(embs.sparkSession, "dot", DoubleType, merged)
  }

  /** Symmetric per-vector INT8 quantization with round-half-up:
    * q_i = ⌊x_i · 127 / amax + 0.5⌋, amax = max|x_i| (all-zero vectors
    * quantize to zeros). Every step — multiply, divide, add, floor —
    * is one correctly-rounded IEEE double op, so ANY engine reproduces
    * the codes bit-for-bit (the DuckDB oracle replays the formula
    * literally); round-half-up (not banker's round()) because it is
    * expressible as floor, which no engine disagrees on. Rounding
    * rather than truncating halves the max per-component error.
    * Range is safely [−127, 127] (x·127/amax ≥ −127(1+ε); +0.5 pulls
    * the floor above −128 even at the ε-perturbed extreme), so a
    * 64-dim dot is ≤ 2²⁰ — nowhere near overflow. Scale-invariant
    * under power-of-two rescaling (exponent shifts are exact —
    * law-tested). */
  def quantizeInt8(v: Array[Double]): Array[Long] = {
    var amax = 0.0
    var i = 0
    while (i < v.length) { val a = math.abs(v(i)); if (a > amax) amax = a; i += 1 }
    if (amax == 0.0) new Array[Long](v.length)
    else v.map(x => math.floor(x * 127.0 / amax + 0.5).toLong)
  }

  /** Top-k neighbors by INT8-QUANTIZED dot product — the memory-/
    * bandwidth-lean scale path: 8× smaller vectors than float64 and a
    * pure-integer score, emitted AS the integer it is (no float
    * rounding step for the hash gate to trip on). Ties break toward
    * the lower neighbor id, self-matches excluded.
    *
    * Same distributed shape as [[bruteForceTopK]] (queries in the
    * closure, per-partition bounded heaps, driver merge over
    * Q·k·partitions candidates); the quantization is per-row work
    * fused into the scan pass. At 100 TB the int8 codes are what you'd
    * actually keep hot — spec pins recall ≥ 0.6 of exact cosine top-k
    * at k = 5 (measured 0.64 with truncation, ~0.7 with the
    * round-half-up). */
  def quantTopK(embs: DataFrame, idCol: String, vecCol: String,
                queries: Array[(Long, Array[Double])], k: Int): DataFrame = {
    val qs = queries.map { case (qid, v) => (qid, quantizeInt8(v)) }
    val merged = topK("quantTopK", scanRows(embs, idCol, vecCol), queries.map(_._1), k,
        IntScoreDesc) { rows =>
      val heaps = qs.map(_ => new BoundedTopK[(Long, Long)](k, IntScoreDesc))
      rows.foreach { r =>
        val id = r.getLong(0)
        val qv = quantizeInt8(r.getArray(1).toDoubleArray())
        var qi = 0
        while (qi < qs.length) {
          val (qid, qq) = qs(qi)
          if (id != qid) {
            var s = 0L
            var j = 0
            while (j < qq.length) { s += qq(j) * qv(j); j += 1 }
            heaps(qi).offer((s, id))
          }
          qi += 1
        }
      }
      heaps
    }
    rankedFrame(embs.sparkSession, "score", LongType, merged)
  }

  /** Deterministic INTEGER hyperplanes: L tables × bits planes with
    * components in [-[[PlaneRange]], +PlaneRange], drawn from a MINSTD
    * Lehmer stream (the repo's oracle-expressible hash family — same
    * idiom as Dedup.MinhashA). Integer planes + quantized vectors make
    * the sign decision EXACT 64-bit arithmetic, so bucket membership
    * reproduces bit-for-bit in any engine (a float dot's sign near 0
    * would not) — that is what turns `ann_lsh_topk` from rows-only
    * into a fully hash-checked query. */
  val PlaneRange = 512
  val QuantScale = 1024
  def intPlanes(nTables: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Long]]] = {
    val stream = Iterator.iterate(seed)(x => x * 48271L % 1000000007L).drop(1)
    Array.fill(nTables, bits, dim)(stream.next() % (2 * PlaneRange + 1) - PlaneRange)
  }

  /** Fixed-point quantization of a double vector: floor(x · 2¹⁰).
    * x·1024 is an exponent shift (exact for any non-overflowing
    * double), and floor of an exact double is engine-independent —
    * the quantized vector is bit-identical everywhere. */
  def quantize(v: Array[Double]): Array[Long] =
    v.map(x => math.floor(x * QuantScale).toLong)

  /** LSH bucket id of a quantized vector for one table: sign bits of
    * the exact integer dot products, packed to int. */
  private[graft] def bucketOf(qv: Array[Long], planes: Array[Array[Long]]): Int = {
    var b = 0; var i = 0
    while (i < planes.length) {
      val p = planes(i)
      var dot = 0L; var j = 0
      while (j < p.length) { dot += qv(j) * p(j); j += 1 }
      if (dot >= 0) b |= (1 << i)
      i += 1
    }
    b
  }

  /** A built IVF index: the trained coarse-quantizer centers plus the
    * cell-assigned corpus (persisted). Build once with [[buildIndex]],
    * probe many times with [[probe]] — at scale the cell assignment is
    * the expensive corpus pass and must amortize across queries. On a
    * cluster `cells` would live partitioned/bucketed by `cell` in
    * storage; here persist() plays that role. */
  final case class IvfIndex(centers: Array[Array[Double]], cells: DataFrame) {
    def unpersist(): Unit = { cells.unpersist(); () }
  }

  /** Affine sample-rank coefficients (aₛ, bₛ) for [[buildIndex]]'s
    * training sample, drawn from the MINSTD Lehmer stream mod P=1e9+7
    * — exact integer arithmetic, so the sample SELECTION itself is
    * reproducible in DuckDB SQL (xxhash64 rank, the previous choice,
    * was engine-private and kept the IVF queries rows-only). */
  val SampleRankP = 1000000007L
  def sampleRankCoeffs(seed: Long): (Long, Long) = {
    val s0 = math.floorMod(seed, SampleRankP - 1) + 1
    val it = Iterator.iterate(s0)(x => x * 48271L % SampleRankP).drop(1)
    (it.next(), it.next())
  }

  /** Train the coarse quantizer and assign every vector to its cell.
    * Training: a bounded deterministic sample (affine Lehmer hash
    * rank over the id — oracle-expressible): ONE corpus scan collects
    * ≤ trainSample·dim doubles, then all K-Means iterations run on the
    * local sample, so index build is O(corpus) + O(sample · iters)
    * however large the corpus — the scale-up run showed full-corpus
    * training dominating otherwise. The trainer is the exact-decimal
    * [[graft.cluster.KMeansNative.fitExact]]: its center trajectory is
    * bit-deterministic across runs, partitionings AND engines, which
    * (with the arithmetic sample rank) makes the whole index — and
    * every probe against it — hash-checkable in DuckDB. */
  def buildIndex(embs: DataFrame, idCol: String, vecCol: String,
                 nCells: Int = 16, trainIters: Int = 5,
                 trainSample: Int = 10000, seed: Long = 42L): IvfIndex = {
    val spark = embs.sparkSession
    import spark.implicits._
    val pts = embs.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("v"))
    val (ra, rb) = sampleRankCoeffs(seed)
    val sampleRows = pts
      .orderBy((pmod(col("id"), lit(SampleRankP)) * lit(ra) + lit(rb)) % lit(SampleRankP),
        col("id"))
      .limit(trainSample)
      .as[(Long, Array[Double])]
      .collect()
    val train = spark.createDataset(sampleRows.toIndexedSeq).toDF("id", "v")
    val init = graft.cluster.KMeansNative.firstKCenters(train, "id", "v", nCells)
    val centers = graft.cluster.KMeansNative.fitExact(train, "v", init, trainIters)
    val cells = graft.cluster.KMeansNative.assigned(pts, col("v"), centers)
      .select(col("id"), col("v"), col("cluster_id").as("cell"))
      .persist()
    IvfIndex(centers, cells)
  }

  /** Persist a built index: centers to a small JSON file (driver-side,
    * k·d doubles), the cell assignment to parquet PARTITIONED BY cell —
    * so a probe's cell filter becomes partition pruning and reads only
    * ~nProbe/nCells of the corpus from storage. Written to a temp dir
    * and renamed, so a crashed build never half-populates the path.
    * On a cluster `dir` would be object storage; the layout is the
    * same. */
  def writeIndex(index: IvfIndex, dir: String): Unit = {
    val path = java.nio.file.Paths.get(dir)
    val tmp = java.nio.file.Paths.get(dir + ".tmp-" + java.util.UUID.randomUUID)
    index.cells.write.mode("overwrite")
      .partitionBy("cell").parquet(tmp.resolve("cells").toString)
    val centersJson = index.centers
      .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    java.nio.file.Files.writeString(tmp.resolve("centers.json"), centersJson)
    if (!tmp.toFile.renameTo(path.toFile)) {
      deleteRecursively(tmp.toFile)
      // renameTo also fails for missing parents / permissions / cross-
      // filesystem targets — only a lost race (target now populated) is
      // benign; anything else must not silently disable persistence.
      if (!java.nio.file.Files.exists(path.resolve("centers.json")))
        throw new java.io.IOException(
          s"could not persist IVF index to $dir (rename failed and no index present)")
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  def readIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex = {
    val centers = ujsonFreeParse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "centers.json")))
    IvfIndex(centers, spark.read.parquet(s"$dir/cells"))
  }

  /** Minimal parser for the centers.json written above (a rectangular
    * [[d,d,...],[...]] double matrix — no dependency needed). */
  private def ujsonFreeParse(s: String): Array[Array[Double]] = {
    val body = s.trim.stripPrefix("[").stripSuffix("]")
    if (body.isEmpty) Array.empty
    else body.split("\\],\\s*\\[").map { row =>
      row.replaceAll("[\\[\\]]", "").split(",").map(_.trim.toDouble)
    }
  }

  /** Content-addressed index directory for (corpus file, build
    * params): full SHA-256 of the identity string — the key must
    * change whenever any build parameter or the corpus file changes,
    * and must not be collidable in a shared tmp namespace. */
  def indexDirFor(corpusFile: java.io.File, nCells: Int, trainIters: Int,
                  trainSample: Int, seed: Long, variant: String = ""): String = {
    // "exact-affine" tags the trainer + sample-rank generation so a
    // disk index built by an older buildIndex can never be served for
    // the oracle-checked queries; `variant` distinguishes restricted
    // corpora sharing the file (the insert path's settled side) and is
    // appended only when non-empty so full-corpus idents — and their
    // already-persisted layouts — are unchanged
    val ident = (Seq(corpusFile.getAbsolutePath, corpusFile.lastModified,
      corpusFile.length, nCells, trainIters, trainSample, seed, "exact-affine") ++
      (if (variant.isEmpty) Nil else Seq(variant))).mkString("|")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(32)
    new java.io.File(System.getProperty("java.io.tmpdir"), s"graft-ivf-$digest")
      .getAbsolutePath
  }

  /** Load the index for (corpus, params) from `dir` if present, else
    * build and persist it there — the cross-process form of
    * build-once/probe-many (a fresh JVM probing the same corpus skips
    * training and cell assignment entirely). */
  def loadOrBuildIndex(embs: DataFrame, idCol: String, vecCol: String, dir: String,
                       nCells: Int = 16, trainIters: Int = 5,
                       trainSample: Int = 10000, seed: Long = 42L): IvfIndex = {
    val spark = embs.sparkSession
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "centers.json")))
      readIndex(spark, dir)
    else {
      val built = buildIndex(embs, idCol, vecCol, nCells, trainIters, trainSample, seed)
      writeIndex(built, dir)
      built
    }
  }

  /** The `nProbe` cells whose centers are nearest `qv` (squared
    * distance, ties toward the lower cell). */
  private def nearestCells(centers: Array[Array[Double]], qv: Array[Double],
                           nProbe: Int): Array[Int] =
    centers.zipWithIndex
      .map { case (c, cid) => (VectorOps.sqdistSeq(qv, c), cid) }
      .sortBy { case (d, cid) => (d, cid) }
      .take(nProbe)
      .map(_._2)

  /** For each cell of `index`, the indices of the queries that probe
    * it; and the rows (id, v, cell, extra...) of the probed cells. The
    * cell filter prunes partitions when the index is disk-resident
    * ([[writeIndex]] layout). */
  private def probedRows(index: IvfIndex, qvs: Array[Array[Double]], nProbe: Int,
                         extra: Column*): (Array[Array[Int]], DataFrame) = {
    val byCell = Array.fill(index.centers.length)(Array.newBuilder[Int])
    for (qi <- qvs.indices; c <- nearestCells(index.centers, qvs(qi), nProbe)) byCell(c) += qi
    val probing = byCell.map(_.result())
    val rows = index.cells
      .filter(col("cell").isin(probing.indices.filter(probing(_).nonEmpty): _*))
      .select(Seq(col("id").cast("long"), VectorOps.toDouble(col("v")),
        col("cell").cast("int")) ++ extra: _*)
    (probing, rows)
  }

  /** Probe a built index: each query ranks only the candidates in its
    * `nProbe` nearest cells by exact cosine — a probe touches
    * ~nProbe/nCells of the corpus and never retrains. One job over the
    * probed cells' rows (the family NOTE at [[bruteForceTopK]]): each
    * row is scored against the queries that probe its cell. */
  def probe(index: IvfIndex, queries: Array[(Long, Array[Double])],
            k: Int, nProbe: Int = 4): DataFrame = {
    val qs = queries.map { case (qid, qv) => (qid, qv, math.sqrt(VectorOps.dotSeq(qv, qv))) }
    val (probing, rows) = probedRows(index, queries.map(_._2), nProbe)
    val merged = topK("probe", rows, queries.map(_._1), k, ScoreDesc) { it =>
      val heaps = qs.map(_ => new BoundedTopK[(Double, Long)](k, ScoreDesc))
      it.foreach { r =>
        val id = r.getLong(0)
        val v = r.getArray(1).toDoubleArray()
        val n = math.sqrt(VectorOps.dotSeq(v, v))
        val qis = probing(r.getInt(2))
        var j = 0
        while (j < qis.length) {
          val (qid, qv, qn) = qs(qis(j))
          if (id != qid) heaps(qis(j)).offer((VectorOps.dotSeq(qv, v) / (qn * n), id))
          j += 1
        }
      }
      heaps
    }
    rankedFrame(index.cells.sparkSession, "cosine", DoubleType, merged)
  }

  /** CORPUS-WIDE kNN GRAPH, cell-bounded (r12): every vector's top-k
    * cosine neighbors WITHIN its IVF cell — the neighbor-graph
    * substrate diversity sampling, graph clustering and NN-descent
    * refinement start from, built without an all-pairs stage: work is
    * Σ_c m_c² (the SemDeDup within-cell law; production sizes
    * nCells ∝ n for constant occupancy), ONE cell-keyed group pass,
    * and each vector emits at most k edges from a bounded heap — a
    * vector's cell-mates are its whole candidate set, so the heap IS
    * the final top-k and the output shuffle is ≤ n·k rows. Vectors
    * alone in their cell emit nothing (no neighbors at this
    * quantization — the caller's re-probe signal). Cosines fold
    * source-vector-first, the oracle's orientation; ties break toward
    * the lower neighbor id. */
  def knnGraphWithin(cells: DataFrame, k: Int): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    require(k >= 1, "k must be >= 1")
    val p = cells.select(col("cell").cast("int"), col("id").cast("long"), col("v"))
      .as[(Int, Long, Array[Double])]
    val ord = Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])
    val edges = p.groupByKey(_._1).flatMapGroups { (_, iter) =>
      val rows = iter.map { case (_, id, v) => (id, v) }.toArray
      val norms = rows.map(r => math.sqrt(VectorOps.dotSeq(r._2, r._2)))
      rows.indices.iterator.flatMap { i =>
        val (sid, sv) = rows(i)
        val h = new graft.functions.BoundedTopK[(Double, Long)](k, ord)
        var j = 0
        while (j < rows.length) {
          if (j != i) {
            val (nid, nv) = rows(j)
            h.offer((VectorOps.dotSeq(sv, nv) / (norms(i) * norms(j)), nid))
          }
          j += 1
        }
        h.iterator.map { case (c, nid) => (sid, nid, c) }
      }
    }.toDF("vec_id", "neighbor_id", "cosine")
    // the heap is already the exact per-vector top-k; the window only
    // assigns rank numbers over ≤ k rows per vector
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    edges
      .withColumn("rank", row_number().over(w))
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** `index` with the corpus label as a column of its cells (id, v,
    * cell, `labelCol`), by an id-keyed join. A caller serving many
    * probes holds this once (`SimilarityQueries` persists it) and
    * passes it as the index: [[hardNegativesIvf]] and [[knnClassifyIvf]]
    * then read the label from the index and join nothing per call. */
  def withLabels(index: IvfIndex, labels: DataFrame, idCol: String,
                 labelCol: String): IvfIndex =
    index.copy(cells = index.cells.join(
      labels.select(col(idCol).cast("long").as("id"), col(labelCol)), "id"))

  /** `index` if its cells carry `labelCol`, else [[withLabels]]. */
  private def labeled(index: IvfIndex, labels: DataFrame, idCol: String,
                      labelCol: String): IvfIndex =
    if (index.cells.columns.contains(labelCol)) index
    else withLabels(index, labels, idCol, labelCol)

  /** HARD-NEGATIVE mining through the PERSISTED IVF index — the scale
    * form [[hardNegativesTopK]]'s scaladoc promises: candidates come
    * from each query's nProbe nearest cells ([[probe]]'s scan), the
    * label filter rides the probe, the merge is unchanged. Recall is
    * the index's (a negative outside the probed cells is not a
    * candidate), so the declared query carries its own oracle
    * replaying build + probe + filter end to end. Same output shape
    * as the exact operator; the label as [[labeled]] reads it. */
  def hardNegativesIvf(index: IvfIndex, labels: DataFrame, idCol: String,
                       labelCol: String,
                       queries: Array[(Long, Int, Array[Double])],
                       k: Int, nProbe: Int = 4): DataFrame = {
    val qs = queries.map { case (qid, ql, v) => (qid, ql, v, math.sqrt(VectorOps.dotSeq(v, v))) }
    val (probing, rows) = probedRows(labeled(index, labels, idCol, labelCol),
      queries.map(_._3), nProbe, col(labelCol).cast("int"))
    val merged = topK("hardNegativesIvf", rows, queries.map(_._1), k, LabeledDesc) { it =>
      val heaps = qs.map(_ => new BoundedTopK[(Double, Long, Int)](k, LabeledDesc))
      it.foreach { r =>
        val id = r.getLong(0)
        val lbl = r.getInt(3)
        val v = r.getArray(1).toDoubleArray()
        val n = math.sqrt(VectorOps.dotSeq(v, v))
        val qis = probing(r.getInt(2))
        var j = 0
        while (j < qis.length) {
          val (qid, ql, qv, qn) = qs(qis(j))
          if (id != qid && lbl != ql)
            heaps(qis(j)).offer((VectorOps.dotSeq(qv, v) / (qn * n), id, lbl))
          j += 1
        }
      }
      heaps
    }
    labeledFrame(index.cells.sparkSession, merged)
  }

  /** kNN weak labeling through the PERSISTED IVF index — the scale
    * form [[knnClassify]]'s scaladoc promises: the voter pool is the
    * probed cells' occupants minus the whole query batch (unlabeled
    * rows must not vote, exactly as in the exact operator), the
    * majority vote rides the k-bounded probe output unchanged. The
    * label is read as [[labeled]] says. Output: (query_id,
    * true_label, pred_label, n_votes, correct), ordered by query_id. */
  def knnClassifyIvf(index: IvfIndex, labels: DataFrame, idCol: String,
                     labelCol: String,
                     queries: Array[(Long, Int, Array[Double])],
                     k: Int, nProbe: Int = 4): DataFrame = {
    val excluded = queries.map(_._1).toSet
    val qs = queries.map { case (_, _, qv) => (qv, math.sqrt(VectorOps.dotSeq(qv, qv))) }
    val (probing, rows) = probedRows(labeled(index, labels, idCol, labelCol),
      queries.map(_._3), nProbe, col(labelCol).cast("int"))
    val merged = topK("knnClassifyIvf", rows, queries.map(_._1), k, LabeledDesc) { it =>
      val heaps = qs.map(_ => new BoundedTopK[(Double, Long, Int)](k, LabeledDesc))
      it.foreach { r =>
        val id = r.getLong(0)
        if (!excluded.contains(id)) {
          val lbl = r.getInt(3)
          val v = r.getArray(1).toDoubleArray()
          val n = math.sqrt(VectorOps.dotSeq(v, v))
          val qis = probing(r.getInt(2))
          var j = 0
          while (j < qis.length) {
            val (qv, qn) = qs(qis(j))
            heaps(qis(j)).offer((VectorOps.dotSeq(qv, v) / (qn * n), id, lbl))
            j += 1
          }
        }
      }
      heaps
    }
    voteFrame(index.cells.sparkSession, queries, merged)
  }

  /** IVF-PQ probe — the production pairing: IVF bounds WHICH vectors
    * a query touches (nProbe cells), PQ bounds the BYTES per touched
    * vector (m codes instead of dim floats). One job over the probed
    * cells' rows, as [[probe]]; each candidate is encoded on the fly
    * and scored as in [[pqTopK]]. A production index stores the codes
    * column alongside `cell`; the scan is unchanged by that swap. */
  def probePq(index: IvfIndex, codebooks: Array[Array[Array[Double]]],
              queries: Array[(Long, Array[Double])], k: Int,
              nProbe: Int = 4): DataFrame = {
    val flat = codebooks.map(_.flatten)
    val (probing, rows) = probedRows(index, queries.map(_._2), nProbe)
    pqRanked("probePq", rows, codebooks, queries, k, probing)(
      (r, sub) => pqEncoded(r.getArray(1), codebooks, flat, sub))
  }

  /** Each query as (id, vector, norm, its bucket in each of the
    * [[intPlanes]] tables); the ids must be distinct, because a
    * repeated id with two vectors has no defined candidate set. */
  private def lshQueries(queries: Array[(Long, Array[Double])], nTables: Int, bits: Int, seed: Long)
      : (Array[Array[Array[Long]]], Array[(Long, Array[Double], Double, Array[Int])]) = {
    require(queries.map(_._1).distinct.length == queries.length, "query ids must be distinct")
    val planes = intPlanes(nTables, bits, queries.headOption.fold(0)(_._2.length), seed)
    (planes, queries.map { case (qid, qv) =>
      (qid, qv, math.sqrt(VectorOps.dotSeq(qv, qv)), lshBuckets(qv, planes))
    })
  }

  private def lshBuckets(v: Array[Double], planes: Array[Array[Array[Long]]]): Array[Int] =
    { val q = quantize(v); planes.map(bucketOf(q, _)) }

  /** Whether two vectors share a bucket in any table. */
  private def sharesBucket(a: Array[Int], b: Array[Int]): Boolean = {
    var t = 0
    while (t < a.length && a(t) != b(t)) t += 1
    t < a.length
  }

  /** Approximate top-k via multi-table sign-LSH; same output shape as
    * [[bruteForceTopK]]. Candidates = vectors sharing any (table,
    * bucket) with the query; exact cosine rank on candidates only.
    * Buckets come from [[intPlanes]] × [[quantize]]d vectors — exact
    * integer arithmetic — so candidacy, and hence the whole output,
    * is engine-reproducible (full DuckDB oracle). One job (the family
    * NOTE at [[bruteForceTopK]]): the query buckets ride in the
    * closure and each corpus row's buckets are computed in the scan,
    * so no bucket join and no deduplication of candidate pairs runs.
    * Query ids must be distinct. */
  def lshTopK(embs: DataFrame, idCol: String, vecCol: String,
              queries: Array[(Long, Array[Double])], k: Int,
              nTables: Int = 8, bits: Int = 4, seed: Long = 42L): DataFrame = {
    val (planes, qs) = lshQueries(queries, nTables, bits, seed)
    val merged = topK("lshTopK", scanRows(embs, idCol, vecCol), queries.map(_._1), k,
        ScoreDesc) { rows =>
      val heaps = qs.map(_ => new BoundedTopK[(Double, Long)](k, ScoreDesc))
      rows.foreach { r =>
        val id = r.getLong(0)
        val v = r.getArray(1).toDoubleArray()
        val vb = lshBuckets(v, planes)
        val n = math.sqrt(VectorOps.dotSeq(v, v))
        var qi = 0
        while (qi < qs.length) {
          val (qid, qv, qn, qb) = qs(qi)
          if (id != qid && sharesBucket(qb, vb))
            heaps(qi).offer((VectorOps.dotSeq(qv, v) / (qn * n), id))
          qi += 1
        }
      }
      heaps
    }
    rankedFrame(embs.sparkSession, "cosine", DoubleType, merged)
  }

  /** RADIUS (range) similarity search via the same multi-table
    * sign-LSH candidate generation as [[lshTopK]]: ALL candidates with
    * cosine ≥ `minCosine`, not a fixed k — the "find everything this
    * similar" API (dedup sweeps, contamination hunts) where the result
    * size is data-dependent. Candidacy is exact integer bucket
    * arithmetic and the threshold compares the same double both
    * engines compute in the same order, so the result set is
    * engine-reproducible (full DuckDB oracle). The threshold is
    * Spark's `>=` on doubles (a NaN cosine passes; −0.0 equals 0.0).
    * Scale: the lazy member of the family — one per-partition scan of
    * the corpus with [[lshTopK]]'s candidate test, no heap, no
    * collect, no join and no exchange; it runs when the caller's
    * action runs. Query ids must be distinct. */
  def lshRadius(embs: DataFrame, idCol: String, vecCol: String,
                queries: Array[(Long, Array[Double])], minCosine: Double,
                nTables: Int = 8, bits: Int = 4, seed: Long = 42L): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val (planes, qs) = lshQueries(queries, nTables, bits, seed)
    embs.select(col(idCol).cast("long").as("id"), VectorOps.toDouble(col(vecCol)).as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions(_.flatMap { case (id, v) =>
        val vb = lshBuckets(v, planes)
        val n = math.sqrt(VectorOps.dotSeq(v, v))
        qs.iterator.collect { case (qid, qv, qn, qb) if id != qid && sharesBucket(qb, vb) =>
          (qid, id, VectorOps.dotSeq(qv, v) / (qn * n))
        }.filter(c => SQLOrderingUtil.compareDoubles(c._3, minCosine) >= 0)
      })
      .toDF("query_id", "neighbor_id", "cosine")
  }

  // ---- Product quantization (PQ) ------------------------------------

  /** Train PQ codebooks: the vector space is split into `m` contiguous
    * subspaces of dim/m dims and each gets its own exact-decimal Lloyd
    * codebook — the bit-deterministic trainer the IVF index and
    * `kmeans_fit_native` use ([[graft.cluster.KMeansNative.fitExact]]'s
    * rounds), so the DuckDB oracle replays training with the shared
    * unrolled-CTE generator. All m codebooks train in ONE loop: one
    * read of the vectors, then `iters` round jobs described
    * `KMeansNative.pqTrain round i/iters`, each model reading its
    * component range in place. The init is the first-k rule taken once
    * on the full vectors and sliced per subspace, which equals the
    * per-subspace first-k init whenever ids are unique. Returns
    * m × kCodes × (dim/m) codewords — the 100 TB representation: a
    * vector stores m small codes (m bytes at kCodes ≤ 256) instead of
    * dim floats, an 8×dim/m compression with rankable distances. */
  def pqTrain(embs: DataFrame, idCol: String, vecCol: String,
              m: Int, kCodes: Int, iters: Int): Array[Array[Array[Double]]] = {
    import graft.cluster.KMeansNative
    val p = embs.select(col(idCol).as("vec_id"), VectorOps.toDouble(col(vecCol)).as("v"))
    val dim = p.select(size(col("v"))).first.getInt(0)
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val init = KMeansNative.firstKCenters(p, "vec_id", "v", kCodes)
    val models = Seq.tabulate(m)(j =>
      KMeansNative.Model(j * sub, init.map(_.slice(j * sub, j * sub + sub))))
    KMeansNative.lloyd("pqTrain", p, "v", models, iters, Double.NegativeInfinity)
      .map(_.centers).toArray
  }

  /** A built PQ index: the per-subspace codebooks plus the encoded
    * corpus (m small codes per vector — the representation a 100 TB
    * deployment stores instead of raw floats). Build once with
    * [[loadOrBuildPqIndex]], probe many times with [[pqProbe]]:
    * training reads the corpus once and runs `iters` rounds over that
    * read for all m codebooks, and encode scans it once, so both must
    * amortize across query batches exactly like the IVF cell
    * assignment. */
  final case class PqIndex(codebooks: Array[Array[Array[Double]]], codes: DataFrame)

  /** Encode the corpus against trained codebooks: per-subspace
    * compiled argmin → one `array<int>` of m codes per vector. This is
    * the stored representation; nothing downstream needs the raw
    * vectors. */
  def encodePq(embs: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dim = codebooks.map(_.head.length).sum
    val sub = dim / m
    val p = embs.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("v"))
    val coded = (0 until m).foldLeft(p) { (df, j) =>
      val (cid, _) = graft.cluster.KMeansNative.argminColumns(
        slice(col("v"), j * sub + 1, sub), codebooks(j))
      df.withColumn(s"_c$j", cid)
    }
    coded.select(col("id"), array((0 until m).map(j => col(s"_c$j")): _*).as("codes"))
  }

  /** Content-addressed PQ index directory for (corpus file, build
    * params) — same identity discipline as [[indexDirFor]]; the
    * "pq-exact" tag versions the trainer so a stale layout can never
    * serve the oracle-checked queries. */
  def pqIndexDirFor(corpusFile: java.io.File, m: Int, kCodes: Int, iters: Int): String = {
    val ident = Seq(corpusFile.getAbsolutePath, corpusFile.lastModified,
      corpusFile.length, m, kCodes, iters, "pq-exact").mkString("|")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(32)
    new java.io.File(System.getProperty("java.io.tmpdir"), s"graft-pq-$digest")
      .getAbsolutePath
  }

  /** Persist a built PQ index: codes to parquet (the corpus-sized
    * artifact), codebooks to a tiny parquet of (sub, cid, w) rows —
    * m·kCodes·(dim/m) doubles. Temp-dir + rename, so a crashed build
    * never half-populates the path (same contract as [[writeIndex]]). */
  def writePqIndex(index: PqIndex, dir: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val path = java.nio.file.Paths.get(dir)
    val tmp = java.nio.file.Paths.get(dir + ".tmp-" + java.util.UUID.randomUUID)
    index.codes.write.mode("overwrite").parquet(tmp.resolve("codes").toString)
    val cbRows = for {
      (cbj, j) <- index.codebooks.zipWithIndex.toIndexedSeq
      (cw, cid) <- cbj.zipWithIndex
    } yield (j, cid, cw.toSeq)
    spark.createDataset(cbRows).toDF("sub", "cid", "w")
      .coalesce(1).write.mode("overwrite").parquet(tmp.resolve("codebooks").toString)
    if (!tmp.toFile.renameTo(path.toFile)) {
      deleteRecursively(tmp.toFile)
      if (!java.nio.file.Files.exists(path.resolve("codebooks")))
        throw new java.io.IOException(
          s"could not persist PQ index to $dir (rename failed and no index present)")
    }
  }

  def readPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): PqIndex = {
    val rows = spark.read.parquet(s"$dir/codebooks")
      .select(col("sub"), col("cid"), col("w")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    val kCodes = rows.map(_.getInt(1)).max + 1
    val cb = Array.ofDim[Array[Double]](m, kCodes)
    rows.foreach { r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray }
    PqIndex(cb, spark.read.parquet(s"$dir/codes"))
  }

  /** Load the PQ index for (corpus, params) from `dir` if present,
    * else train + encode + persist — cross-process build-once/
    * probe-many, exactly like [[loadOrBuildIndex]]. */
  def loadOrBuildPqIndex(embs: DataFrame, idCol: String, vecCol: String, dir: String,
                         m: Int, kCodes: Int, iters: Int): PqIndex = {
    val spark = embs.sparkSession
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "codebooks")))
      readPqIndex(spark, dir)
    else {
      val cb = pqTrain(embs, idCol, vecCol, m, kCodes, iters)
      val built = PqIndex(cb, encodePq(embs, idCol, vecCol, cb))
      writePqIndex(built, dir)
      // serve the persisted layout, not the un-persisted plan, so the
      // first process exercises the same read path as every later one
      readPqIndex(spark, dir)
    }
  }

  /** The reconstruction of `v` — per subspace the codeword
    * [[ArgminKernel]] picks, the kernel and tie rule of `vec_argmin`
    * over `slice` — or null when `v` is null or shorter than m·sub
    * (`slice` then leaves a subspace short). `flat`: each book flat. */
  private def pqEncoded(v: ArrayData, cb: Array[Array[Array[Double]]],
                        flat: Array[Array[Double]], sub: Int): Array[Double] =
    if (v == null || v.numElements() < cb.length * sub) null
    else {
      val out = new Array[Double](cb.length * sub)
      for (j <- cb.indices) {
        val c = ArgminKernel.compute(v, j * sub, flat(j), cb(j).length, sub).getInt(0)
        System.arraycopy(cb(j)(c), 0, out, j * sub, sub)
      }
      out
    }

  /** The reconstruction of stored `codes`, or null for null codes or a
    * null code; a missing or out-of-range code fails. */
  private def pqDecoded(codes: ArrayData, cb: Array[Array[Array[Double]]],
                        sub: Int): Array[Double] = {
    if (codes == null) return null
    require(codes.numElements() >= cb.length,
      s"${codes.numElements()} PQ codes for ${cb.length} subspaces")
    val out = new Array[Double](cb.length * sub)
    for (j <- cb.indices if !codes.isNullAt(j))
      System.arraycopy(cb(j)(codes.getInt(j)), 0, out, j * sub, sub)
    if (cb.indices.exists(codes.isNullAt)) null else out
  }

  /** The PQ tail: [[topK]] over `rows` (id, payload...) in `sqdist
    * ASC` order. `recon(row, sub)` is a row's reconstruction (null:
    * unscorable); each query scores it by `vec_sqdist` — ONE
    * accumulator over the m subspaces in order, the 64-term
    * left-to-right fold of DuckDB's `list_sum` — null when either side
    * is null or the widths differ. Without `probing` a row meets every
    * query, else the queries probing its cell (column 2). sqdist is
    * nullable, neighbor_id as nullable as the scanned id. `recon` is
    * one call per row, outside the per-query loop the NOTE at
    * [[bruteForceTopK]] keeps monomorphic. */
  private def pqRanked(op: String, rows: DataFrame,
                       cb: Array[Array[Array[Double]]], queries: Array[(Long, Array[Double])],
                       k: Int, probing: Array[Array[Int]] = null)
                      (recon: (InternalRow, Int) => Array[Double]): DataFrame = {
    val sub = cb.head.head.length
    require(cb.forall(b => b.nonEmpty && b.forall(_.length == sub)), "PQ codewords differ in width")
    val qs = queries.map { case (id, qv) =>
      (id, if (qv != null && qv.length == cb.length * sub) qv else null)
    }
    val merged = topK(op, rows, queries.map(_._1), k, SqDistAsc) { it =>
      val heaps = qs.map(_ => new BoundedTopK[(java.lang.Double, Long)](k, SqDistAsc))
      val all = qs.indices.toArray
      it.filter(!_.isNullAt(0)).foreach { r =>
        val id = r.getLong(0)
        val rc = recon(r, sub)
        val qis = if (probing == null) all else probing(r.getInt(2))
        var j = 0
        while (j < qis.length) {
          val (qid, qv) = qs(qis(j))
          if (id != qid) heaps(qis(j)).offer(
            (if (qv == null || rc == null) null else VectorOps.sqdistSeq(qv, rc), id))
          j += 1
        }
      }
      heaps
    }
    rankedFrame(rows.sparkSession, "sqdist", DoubleType, merged,
      Set("sqdist") ++ (if (rows.schema.head.nullable) Set("neighbor_id") else Set.empty))
  }

  /** Probe a built PQ index: [[pqTopK]]'s arithmetic on each stored
    * code vector's reconstruction — the corpus side reads CODES (the
    * 16×-compressed representation), never a raw vector, and never
    * retrains. One job over the codes (the family NOTE at
    * [[bruteForceTopK]]). */
  def pqProbe(index: PqIndex, queries: Array[(Long, Array[Double])], k: Int): DataFrame = {
    val cb = index.codebooks
    pqRanked("pqProbe", index.codes.select(col("id").cast("long"), col("codes")), cb, queries,
      k)((r, sub) => pqDecoded(r.getArray(1), cb, sub))
  }

  /** PQ ASYMMETRIC-DISTANCE top-k: encode each corpus vector
    * (per-subspace argmin → m small codes), then score each query
    * against the RECONSTRUCTION (codeword concatenation) with one
    * 64-term squared-distance fold.
    *
    * Scoring via reconstruction rather than per-subspace LUT sums is
    * deliberate: d²(q, recon) equals the ADC value mathematically,
    * and as ONE left-to-right 64-term fold it is bit-identical to
    * DuckDB's `list_sum` — per-subspace partial sums would round
    * differently (different grouping). A production deployment keeps
    * the LUT form; the semantics (and the ranking) are the same.
    *
    * Scale shape: train reads the corpus once and makes `iters`
    * rounds over it (or a bounded sample at real scale, like IVF);
    * encode and score are ONE job (the family NOTE at
    * [[bruteForceTopK]]). A vector PQ cannot encode (null, or shorter
    * than m·sub) scores null, which ranks first. */
  def pqTopK(embs: DataFrame, idCol: String, vecCol: String,
             queries: Array[(Long, Array[Double])], k: Int,
             m: Int = 4, kCodes: Int = 16, iters: Int = 4,
             codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val cb = codebooks.getOrElse(pqTrain(embs, idCol, vecCol, m, kCodes, iters))
    require(cb.length == m, s"${cb.length} codebooks for $m subspaces")
    val flat = cb.map(_.flatten)
    pqRanked("pqTopK", scanRows(embs, idCol, vecCol), cb, queries, k)(
      (r, sub) => pqEncoded(r.getArray(1), cb, flat, sub))
  }

  /** EXACT second-moment statistics of an embedding column — the
    * sufficient statistic for covariance, whitening, PCA and OPQ-style
    * rotation init, and the standing drift monitor an embedding
    * pipeline diffs between snapshots. One pass, upper-triangle
    * d(d+1)/2 cells: per cell (i ≤ j) the row count, the exact
    * per-dim sums Σvᵢ, Σvⱼ and the exact product sum Σvᵢvⱼ —
    * covariance = (n·Σvᵢvⱼ − Σvᵢ·Σvⱼ)/n² is driver arithmetic.
    *
    * Scale shape: the pair explode inflates rows ×d(d+1)/2 but ALL of
    * it partial-aggregates map-side (HashAggregate) — ONE exchange,
    * d²-bounded per partition (d=64: 2080 cells), never corpus-sized.
    * The first moments ride along inside the same cells (s_i summed
    * per cell is n-fold redundant compute but keeps the plan to a
    * single shuffle — no per-dim frame, no joins). Sums ride the
    * [[graft.cluster.KMeans.accumulate]] DECIMAL(38,12) bridge, so
    * cross-partition merge order cannot perturb a bit and the d²
    * report hash-matches the DuckDB replay. [[cellStats]] is the
    * pre-sort frame the streaming parity twin shares. */
  def cellStats(embs: DataFrame, vecCol: String): DataFrame =
    embs.select(VectorOps.toDouble(col(vecCol)).as("v"))
      .select(posexplode(col("v")).as(Seq("i", "vi")), col("v"))
      .select(col("i"), col("vi"), posexplode(col("v")).as(Seq("j", "vj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        round(sum(col("vi").cast("decimal(38,12)")).cast("double"), 6).as("s_i"),
        round(sum(col("vj").cast("decimal(38,12)")).cast("double"), 6).as("s_j"),
        round(sum((col("vi") * col("vj")).cast("decimal(38,12)")).cast("double"), 6)
          .as("s_xy"))

  def covarianceStats(embs: DataFrame, idCol: String, vecCol: String): DataFrame =
    cellStats(embs, vecCol).orderBy("i", "j")

  /** Driver-side PCA top component from [[covarianceStats]] output —
    * the d²-bounded hand-off (the k·d-centers discipline: only the
    * moment cells cross to the driver, never data). Deterministic
    * power iteration from the all-ones start; returns (eigenvalue,
    * unit eigenvector of the covariance matrix). */
  def pcaTopComponent(stats: Array[(Int, Int, Long, Double, Double, Double)],
                      iters: Int = 50): (Double, Array[Double]) = {
    val (lambda, v) = powerIteration(covMatrixOf(stats), iters)
    (lambda, v)
  }

  /** The covariance matrix the moment cells encode — shared by the
    * top-1 and top-2 trainers so the matrix every component sees is
    * ONE arithmetic. */
  private def covMatrixOf(stats: Array[(Int, Int, Long, Double, Double, Double)]): Array[Array[Double]] = {
    require(stats.nonEmpty, "empty covariance stats")
    val d = stats.map(_._2).max + 1
    val n = stats.head._3.toDouble
    val cov = Array.ofDim[Double](d, d)
    stats.foreach { case (i, j, _, si, sj, sxy) =>
      val c = (n * sxy - si * sj) / (n * n)
      cov(i)(j) = c; cov(j)(i) = c
    }
    cov
  }

  /** Deterministic power iteration from the all-ones start — every
    * fold left-to-right, every op one correctly-rounded IEEE double
    * op, so any engine replays the identical trajectory. */
  private def powerIteration(cov: Array[Array[Double]], iters: Int): (Double, Array[Double]) = {
    val d = cov.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    var it = 0
    while (it < iters) {
      val w = Array.tabulate(d)(i => VectorOps.dotSeq(cov(i), v))
      val nm = math.sqrt(VectorOps.dotSeq(w, w))
      if (nm > 0) { v = w.map(_ / nm); lambda = nm }
      it += 1
    }
    (lambda, v)
  }

  /** TOP-2 principal components by HOTELLING DEFLATION (r13): train
    * component 1 exactly as [[pcaTopComponent]], deflate the matrix —
    * C₂(i,j) = C(i,j) − λ₁·v₁(i)·v₁(j), each term the left-to-right
    * IEEE product `λ₁ * v₁(i) * v₁(j)` so the oracle's
    * `nm * w[i] * w[j]` lands on the identical double — and run the
    * same power iteration on C₂. The d²-bounded hand-off discipline
    * is unchanged: only moment cells cross to the driver, components
    * are k·d doubles back. Returns ((λ₁, v₁), (λ₂, v₂)). */
  def pcaTop2(stats: Array[(Int, Int, Long, Double, Double, Double)],
              iters: Int = 50): ((Double, Array[Double]), (Double, Array[Double])) = {
    val cov = covMatrixOf(stats)
    val (l1, v1) = powerIteration(cov, iters)
    val d = cov.length
    val cov2 = Array.tabulate(d, d)((i, j) => cov(i)(j) - l1 * v1(i) * v1(j))
    val (l2, v2) = powerIteration(cov2, iters)
    ((l1, v1), (l2, v2))
  }

  /** MARGIN-BASED cross-set pair mining (Artetxe & Schwenk, "Margin-
    * based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", arXiv:1811.01136) — the standard way parallel /
    * aligned training pairs are mined from two embedding sets (e.g.
    * two languages, or text↔image): a raw cosine threshold is scale-
    * sensitive per query, so each candidate's cosine is normalized by
    * the mean similarity of BOTH endpoints' k-NN neighborhoods
    * (the "ratio" margin): margin(x,y) = sim(x,y) /
    * (avgₖNN(x)/2 + avgₖNN(y)/2). Each x's mined partner is its
    * margin-argmax among its k-NN; `mutual` marks pairs where y mines
    * x back (the high-precision setting the paper reports).
    *
    * Distributed shape: the B² TILED exact cross kernel (the
    * [[graft.operators.Dedup.embeddingCosine]] block scheme, cross-set
    * form) — each side's row lands in B tiles, every (x, y) pair
    * meets in exactly one tile, each tile emits only per-vector
    * bounded top-k partials, so the post-kernel shuffle is
    * (|X|+|Y|)·k·B rows, never |X|·|Y|. The margin arithmetic then
    * runs on the k-bounded lists: two sum aggregates + one broadcast-
    * able best-partner window. At 100 TB the tile kernel is swapped
    * for IVF/LSH candidate generation (the [[Similarity]] index
    * family) and the margin stage is unchanged — it only ever sees
    * k-bounded candidate lists.
    *
    * Cross-engine determinism: k-NN ranks order by the RAW double
    * cosine (the proven oracle fold), every derived quantity is
    * integer — sim_micros = ⌊(cos+1)·5·10⁵⌋ (the +1 shift keeps
    * neighborhood sums strictly non-negative so integer division
    * truncation = floor in both engines), margin_permille =
    * (2k·1000·sim_micros) DIV (Σₖx + Σₖy). */
  def marginKnnMining(embsX: DataFrame, embsY: DataFrame,
                      idCol: String, vecCol: String,
                      k: Int = 4, numBlocks: Int = 4): DataFrame = {
    val spark = embsX.sparkSession
    import spark.implicits._
    require(k >= 1 && numBlocks >= 1, "k and numBlocks must be >= 1")
    val B = numBlocks
    def prep(df: DataFrame) = df
      .select(col(idCol).cast("long").as("id"),
        VectorOps.toDouble(col(vecCol)).as("v")).as[(Long, Array[Double])]
    val tagged =
      prep(embsX).flatMap { case (id, v) =>
        val bx = java.lang.Math.floorMod(id, B.toLong).toInt
        (0 until B).map(j => (bx * B + j, 0, id, v))
      }.union(prep(embsY).flatMap { case (id, v) =>
        val by = java.lang.Math.floorMod(id, B.toLong).toInt
        (0 until B).map(i => (i * B + by, 1, id, v))
      })
    val ord = Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])
    val partial = tagged.groupByKey(_._1).flatMapGroups { (_, iter) =>
      val rows = iter.toArray
      val xs = rows.filter(_._2 == 0).map(r => (r._3, r._4)).sortBy(_._1)
      val ys = rows.filter(_._2 == 1).map(r => (r._3, r._4)).sortBy(_._1)
      val xn = xs.map { case (_, v) => math.sqrt(VectorOps.dotSeq(v, v)) }
      val yn = ys.map { case (_, v) => math.sqrt(VectorOps.dotSeq(v, v)) }
      def topk(from: Array[(Long, Array[Double])], fn: Array[Double],
               to: Array[(Long, Array[Double])], tn: Array[Double],
               side: Int, xFirst: Boolean) =
        from.iterator.zipWithIndex.flatMap { case ((fid, fv), fi) =>
          val h = new graft.functions.BoundedTopK[(Double, Long)](k, ord)
          var ti = 0
          while (ti < to.length) {
            val (tid, tv) = to(ti)
            // X-side vector always folds first so cos(x, y) is the
            // SAME double in both directions (and in the oracle)
            val c =
              if (xFirst) VectorOps.dotSeq(fv, tv) / (fn(fi) * tn(ti))
              else VectorOps.dotSeq(tv, fv) / (tn(ti) * fn(fi))
            h.offer((c, tid))
            ti += 1
          }
          h.iterator.map { case (c, tid) => (side, fid, tid, c) }
        }
      (topk(xs, xn, ys, yn, 0, xFirst = true) ++
        topk(ys, yn, xs, xn, 1, xFirst = false)).toSeq
    }.toDF("side", "id", "other", "cosine")
    marginStage(partial, k)
  }

  /** The margin/mutuality stage shared by [[marginKnnMining]] and
    * [[marginKnnMiningIvf]] — the arithmetic the operator scaladoc
    * promises is candidate-kernel-independent: consumes the partial
    * frame (side, id, other, cosine) — side 0 = x→y candidates,
    * side 1 = y→x — ranks each id's top-k by the raw double cosine,
    * then runs the all-integer margin formula and the best-partner /
    * mutuality selection. Only k-bounded lists ever reach this stage,
    * whatever kernel (exact tiles or IVF probes) generated them.
    *
    * SINGLE-PASS SHAPE (r17 optimization round, guide §2.4): the
    * original formulation split the frame by side and self-joined the
    * two best-partner windows, which pushed `side` filters below every
    * reused exchange and made the TYPED CANDIDATE KERNEL execute once
    * per side flavor (plus 4 sum-broadcast joins and 2 best-window
    * exchanges). This form keeps both sides in ONE frame end to end:
    *  - each row's OWN neighborhood sum is a window sum over the same
    *    (side, id) partitioning the rank window already established —
    *    no aggregate, no join, no new exchange;
    *  - the OTHER endpoint's sum is one equi-join against the
    *    k-bounded per-id sums (rk = 1 rows) keyed (1−side, other) —
    *    the inner join drops exactly the probed-but-unreciprocated
    *    pairs the old per-side sy/sx inner joins dropped;
    *  - BOTH best-partner windows are one window over (side, id): for
    *    side 0 the group is x and the tiebreak column `other` is yid,
    *    for side 1 the group is y and `other` is xid — the same
    *    groups and (margin desc, cosine desc, other) order as the two
    *    old windows. While the oSums side broadcasts (the regime the
    *    r17 plans capture — it is one k-bounded row per endpoint),
    *    the (side, id) partitioning established by the rank window
    *    survives the join and the best window needs no new exchange;
    *    past the broadcast threshold the join re-partitions on
    *    (1−side, other) and the window pays one (side, id) exchange —
    *    still id-bounded rows, never the corpus (r17 ADVICE);
    *  - mutuality needs no self-join: grouping the per-(side, id)
    *    best rows by (xid, yid) yields ≤ 2 rows per pair (ids are
    *    unique per side), so `mutual` = both sides present, emission
    *    = pairs with a side-0 row, margin = the side-0 row's (the old
    *    bestX semantics verbatim).
    * Row-for-row equality with the old shape is pinned by the
    * brute-force-reference spec (SimilaritySpec "margin stage
    * single-pass") on top of the pre-existing block-invariance /
    * IVF≡exact / sampled-exact-ground-truth pins, and the declared
    * queries hash-match the unchanged DuckDB oracle at both scales. */
  private def marginStage(partial: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("side", "id")
      .orderBy(col("cosine").desc, col("other"))
    val ws = Window.partitionBy("side", "id")
    val knn = partial
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .withColumn("m", floor((col("cosine") + 1.0d) * 500000.0d).cast("long"))
      .withColumn("s", sum(col("m")).over(ws))
    // one row per (side, id) carrying that endpoint's neighborhood sum
    val oSums = knn.filter(col("rk") === 1)
      .select(col("side").as("oside"), col("id").as("oid"), col("s").as("os"))
    val bw = Window.partitionBy("side", "id")
      .orderBy(col("margin_permille").desc, col("cosine").desc, col("other"))
    val best = knn
      .join(oSums, (lit(1) - col("side")) === col("oside") &&
        col("other") === col("oid"))
      .withColumn("margin_permille",
        when(col("s") + col("os") === 0L, lit(null))
          .otherwise(expr(s"(2 * $k * 1000 * m) DIV (s + os)")))
      .withColumn("brk", row_number().over(bw)).filter(col("brk") === 1)
      .withColumn("xid", when(col("side") === 0, col("id")).otherwise(col("other")))
      .withColumn("yid", when(col("side") === 0, col("other")).otherwise(col("id")))
    best.groupBy("xid", "yid")
      .agg(max(when(col("side") === 0, col("margin_permille"))).as("_mp"),
        max(when(col("side") === 0, lit(1))).as("_hx"),
        max(when(col("side") === 1, lit(1))).as("_hy"))
      .filter(col("_hx").isNotNull)
      .select(col("xid").as("x_id"), col("yid").as("y_id"),
        col("_mp").as("margin_permille"), col("_hy").isNotNull.as("mutual"))
      .orderBy("x_id")
  }

  /** IVF-CANDIDATE margin mining — [[marginKnnMining]]'s 100 TB form
    * (r11 verdict task 1): instead of the exact B²-tiled cross kernel
    * (compute O(|X|·|Y|)), each side's k-NN candidates come from the
    * PERSISTED IVF index ([[IvfIndex]] — the ann_ivfpq_topk
    * composition pattern): a row's candidates are the OTHER side's
    * vectors homed in its `nProbe` nearest cells, so total compute is
    * Σ over probed cells of m_x,c·m_y,c (the SemDeDup within-cell
    * law, nProbe-widened) — never the full cross product. The margin
    * arithmetic is [[marginStage]] UNCHANGED — it only ever sees
    * k-bounded candidate lists.
    *
    * Plan shape: probe-cell selection is per-row compiled arithmetic
    * (nCells [[graft.plans.expressions.SqDist]] columns +
    * `array_sort` over (d2, cid) structs — zero shuffle, the exact
    * tie order of the oracle's `ORDER BY d2, cid`); ONE cell-keyed
    * exchange co-locates each side's probe rows with the other
    * side's home rows; the grouped kernel emits only per-row bounded
    * top-k partials (≤ k per (row, probed cell)), so the post-kernel
    * shuffle is (|X|+|Y|)·nProbe·k rows. On a cluster the home-row
    * side of that exchange is the index's `cell`-partitioned parquet
    * layout ([[writeIndex]]) — probes stream against pruned
    * partitions and the index amortizes across every ann_ivf* probe
    * batch AND this mining pass.
    *
    * `xPred`/`yPred` select the two sides out of the indexed corpus
    * by predicates over the `id` column (the one-table layout a
    * mined bitext / cross-modal corpus actually has); rows matching
    * neither are ignored. Recall is the index's: a true neighbor
    * outside the probed cells is not a candidate (the [[probe]]
    * contract), which is why the declared query carries its own
    * oracle replaying build + probe + margin end to end. One
    * asymmetry the exact kernel can never produce: a pair (x, y)
    * where y's OWN probe cells contain no x-side rows gives y no
    * reverse neighborhood, so the ratio margin — which normalizes by
    * BOTH endpoints' k-NN means — is undefined for it and the pair
    * is dropped by [[marginStage]]'s neighborhood joins (if it was
    * x's only candidate, x emits nothing). The oracle drops it
    * identically; at mining densities a probed-but-unreciprocated
    * cell is a re-probe signal, not a minable pair. */
  def marginKnnMiningIvf(index: IvfIndex, xPred: Column, yPred: Column,
                         k: Int = 4, nProbe: Int = 4): DataFrame = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    require(k >= 1 && nProbe >= 1, "k and nProbe must be >= 1")
    val centers = index.centers
    val nCells = centers.length
    // per-row nProbe nearest cells: nCells compiled SqDist columns,
    // sorted as (d2, cid) structs — all inside one codegen stage
    def probeRows(df: DataFrame): DataFrame = {
      val withD = (0 until nCells).foldLeft(df) { (d, c) =>
        d.withColumn(s"_d$c",
          graft.plans.expressions.vec_sqdist(col("v"), typedLit(centers(c).toSeq)))
      }
      val ranked = slice(array_sort(array((0 until nCells).map(c =>
        struct(col(s"_d$c").as("d"), lit(c).as("c"))): _*)), 1, nProbe)
      withD.select(col("id"), col("v"),
        explode(transform(ranked, s => s.getField("c"))).as("cell"))
    }
    val base = index.cells.select(col("id").cast("long").as("id"), col("v"),
      col("cell").cast("int").as("cell"))
    val xs = base.filter(xPred)
    val ys = base.filter(yPred)
    // roles: 0 = x probe, 1 = y home, 2 = y probe, 3 = x home —
    // one union, one cell-keyed exchange for both directions
    val tagged =
      probeRows(xs.select("id", "v"))
        .select(col("cell"), lit(0).as("role"), col("id"), col("v"))
        .union(ys.select(col("cell"), lit(1).as("role"), col("id"), col("v")))
        .union(probeRows(ys.select("id", "v"))
          .select(col("cell"), lit(2).as("role"), col("id"), col("v")))
        .union(xs.select(col("cell"), lit(3).as("role"), col("id"), col("v")))
        .as[(Int, Int, Long, Array[Double])]
    val ord = Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])
    val partial = tagged.groupByKey(_._1).flatMapGroups { (_, iter) =>
      val rows = iter.toArray
      def part(role: Int) = rows.filter(_._2 == role).map(r => (r._3, r._4))
      val xp = part(0); val yh = part(1); val yp = part(2); val xh = part(3)
      val yhN = yh.map { case (_, v) => math.sqrt(VectorOps.dotSeq(v, v)) }
      val xhN = xh.map { case (_, v) => math.sqrt(VectorOps.dotSeq(v, v)) }
      def topk(from: Array[(Long, Array[Double])],
               to: Array[(Long, Array[Double])], tn: Array[Double],
               sideTag: Int, xFirst: Boolean) =
        from.iterator.flatMap { case (fid, fv) =>
          val fn = math.sqrt(VectorOps.dotSeq(fv, fv))
          val h = new graft.functions.BoundedTopK[(Double, Long)](k, ord)
          var ti = 0
          while (ti < to.length) {
            val (tid, tv) = to(ti)
            // X-side vector folds first (the tile kernel's rule), so
            // cos(x, y) is the SAME double in both directions and in
            // the oracle
            val c =
              if (xFirst) VectorOps.dotSeq(fv, tv) / (fn * tn(ti))
              else VectorOps.dotSeq(tv, fv) / (tn(ti) * fn)
            h.offer((c, tid))
            ti += 1
          }
          h.iterator.map { case (c, tid) => (sideTag, fid, tid, c) }
        }
      (topk(xp, yh, yhN, 0, xFirst = true) ++
        topk(yp, xh, xhN, 1, xFirst = false)).toSeq
    }.toDF("side", "id", "other", "cosine")
    marginStage(partial, k)
  }

  /** Production constant-occupancy law for auto-built IVF indexes:
    * nCells = max(16, n / [[AutoCellOccupancy]]), so mean cell
    * occupancy stays ~1250 and within-cell work Σm² is
    * occupancy-bounded — TOTAL work ∝ nCells ∝ n, the linear scale
    * path every ScaleUp `*_auto` rehearsal times (nCells = 16 at the
    * 20 k 10× corpus, 160 at the 200 k 100× corpus). The floor is the
    * declared fixture constant [[graft.queries.SimilarityQueries
    * .IvfCells]] — at every fixture scale (≤ 20 k vectors) the law
    * lands exactly on the oracle-replayed nCells = 16, which is what
    * lets auto-law queries ride the same build CTEs. */
  val AutoCellOccupancy = 1250L
  def autoNCells(n: Long): Int = {
    // r13 ADVICE: fail loudly instead of silently truncating/wrapping
    // past Int range (≈ 2.7e12 rows at occupancy 1250) — a negative or
    // garbage nCells would otherwise reach buildIndex unchecked
    require(n >= 0L && n / AutoCellOccupancy <= Int.MaxValue.toLong,
      s"autoNCells: corpus size $n out of range (nCells must fit in Int)")
    math.max(16L, n / AutoCellOccupancy).toInt
  }

  /** IVF index occupancy-drift audit (r12 verdict task 4 — the
    * `events_skew_report` idiom applied to the engine's OWN index):
    * the probe family ([[probe]], semantic probes, the `ann_*_ivf`
    * queries) reads a frozen index forever, so a drifting ingest
    * distribution silently degrades cell balance — probes of hot
    * cells scan ever-larger candidate lists, and new vectors landing
    * in cells with no settled content probe into nothing. This is the
    * retrain trigger: per occupied cell, the settled-corpus occupancy
    * vs the new batch's landing distribution, all-integer so the
    * report is hash-checkable cross-engine.
    *
    * Input is an IVF-ASSIGNED frame (id, v, cell) — typically
    * [[IvfIndex]].cells — with `isNew` marking the arriving batch
    * (the [[graft.operators.Dedup.semanticProbeVerdicts]] ingest
    * convention). Columns:
    *  - `n_settled` / `n_new`: per-cell counts of each stratum;
    *  - `settled_permille` / `new_permille`: each stratum's share of
    *    its own total (integer DIV — deterministic);
    *  - `drift_permille`: |new − settled| share gap, the per-cell
    *    total-variation contribution;
    *  - `new_over_mean_permille`: the new batch's occupancy vs the
    *    uniform mean (1000 = exactly mean load; the skew-report
    *    ratio);
    *  - `orphan`: new rows landed where the index holds NO settled
    *    rows — probes there return nothing and the cell is invisible
    *    to every settled-side consumer;
    *  - `retrain`: drift past `retrainThresholdPermille`, or an
    *    orphan cell — the boolean a scheduled ingest job alerts on.
    *
    * Plan shape: ONE cell-keyed partial-aggregated exchange (≤ nCells
    * rows out of the map side) + a 1-row broadcast of the totals —
    * cost is a corpus scan however large the index, the same as any
    * occupancy report. Cells the quantizer trained but nothing ever
    * landed in carry no row (they appear in no assignment and no
    * probe cost); the report covers every OCCUPIED cell. */
  def indexDrift(cells: DataFrame, isNew: Column,
                 retrainThresholdPermille: Long = 50L): DataFrame = {
    val per = cells
      .select(col("cell").cast("int").as("cell"),
        when(isNew, 1L).otherwise(0L).as("is_new"))
      .groupBy("cell")
      .agg(sum(lit(1L) - col("is_new")).as("n_settled"),
        sum(col("is_new")).as("n_new"))
    driftReport(per, retrainThresholdPermille)
  }

  /** The drift-report arithmetic over a per-cell counts frame
    * (cell, n_settled, n_new) — shared by [[indexDrift]] and the
    * streaming serve twin (`stream_index_drift_parity`), which
    * accumulates the new-batch counts in a complete-mode stream
    * aggregate and joins the static settled counts post-sink; both
    * callers are row-identical by construction and ride one oracle. */
  private[graft] def driftReport(per: DataFrame,
                                 retrainThresholdPermille: Long): DataFrame = {
    val tot = per.agg(sum("n_settled").as("t_settled"),
      sum("n_new").as("t_new"), count(lit(1)).as("n_cells"))
    per.crossJoin(broadcast(tot))
      .withColumn("settled_permille",
        expr("(1000 * n_settled) DIV greatest(t_settled, 1)"))
      .withColumn("new_permille",
        expr("(1000 * n_new) DIV greatest(t_new, 1)"))
      .withColumn("drift_permille",
        abs(col("new_permille") - col("settled_permille")))
      .withColumn("new_over_mean_permille",
        expr("(1000 * n_new * n_cells) DIV greatest(t_new, 1)"))
      .withColumn("orphan", col("n_new") > 0L && col("n_settled") === 0L)
      .withColumn("retrain",
        col("drift_permille") > retrainThresholdPermille || col("orphan"))
      .select("cell", "n_settled", "n_new", "settled_permille",
        "new_permille", "drift_permille", "new_over_mean_permille",
        "orphan", "retrain")
      .orderBy("cell")
  }

  /** DRIFT-GATED INDEX MAINTENANCE (r13 verdict task 8 — the
    * composition both the drift and retrain scaladocs describe):
    * the scheduled-job surface. Runs [[indexDrift]] over the served
    * index; if ANY cell flags `retrain` (share drift past the
    * threshold, or an orphan cell), performs the retrain ACTION — a
    * full-current-corpus quantizer rebuild, the state
    * `ann_index_retrain`'s AFTER side reports on — otherwise does
    * nothing and the original index is untouched.
    *
    * Returns (audit + `action` column, the retrained index if one was
    * built). The gate is driver-side over the ≤ nCells-row audit (the
    * k·d-centers collect discipline); `rebuild` injects the retrain
    * strategy so a caller holding a shared/persisted full-corpus
    * index (the declared query; a production job with a
    * content-addressed [[loadOrBuildIndex]] layout) supplies its own
    * handle and an un-hooked caller gets a fresh [[buildIndex]] of
    * `embs` with the index's own cell count. The returned index's
    * lifetime belongs to the caller (the buildIndex contract); the
    * planted-drift gating — skewed batch → rebuild invoked and
    * row-identical to the full-corpus build, proportional batch →
    * no-op, rebuild never invoked — is spec-pinned in
    * SimilaritySpec. */
  def maintainIndex(embs: DataFrame, idCol: String, vecCol: String,
                    index: IvfIndex, isNew: Column,
                    retrainThresholdPermille: Long = 50L,
                    rebuild: Option[() => IvfIndex] = None): (DataFrame, Option[IvfIndex]) = {
    val audit = indexDrift(index.cells, isNew, retrainThresholdPermille)
    // nCells-bounded collect: the audit has one row per occupied cell
    val flagged = audit.select(col("retrain")).collect().exists(_.getBoolean(0))
    val action = if (flagged) "retrain" else "noop"
    val retrained =
      if (flagged)
        Some(rebuild.map(_())
          .getOrElse(buildIndex(embs, idCol, vecCol,
            nCells = index.centers.length)))
      else None
    (audit.withColumn("action", lit(action)), retrained)
  }

  /** ONE NN-DESCENT REFINEMENT ROUND over a kNN graph (Dong, Moses &
    * Li, "Efficient K-Nearest Neighbor Graph Construction for Generic
    * Similarity Measures", WWW 2011 — the construction every modern
    * graph-ANN index descends from): a neighbor's neighbor is likely
    * a neighbor, so each vector's candidate set for the next graph is
    * its current neighbors ∪ its neighbors' neighbors, rescored
    * exactly and cut back to top-k. This is the cross-cell repair the
    * within-cell [[knnGraphWithin]] cannot do alone: a true neighbor
    * quantized into an adjacent cell is invisible to the cell pass,
    * but becomes reachable through any shared neighbor after one
    * round — recall only ever improves (the candidate set contains
    * the incumbent edges).
    *
    * SEEDING CAVEAT (the reason the paper initializes with a RANDOM
    * graph): the within-cell graph alone is CLOSED under hop-2 —
    * every neighbor's neighbor is a cell-mate, so descent over it is
    * a no-op. Callers must union an independent partition's edges
    * into the seed (the declared `ann_knn_graph_refined` unions the
    * IVF-cell graph with a Lehmer-hash bucket graph — a
    * deterministic, oracle-expressible stand-in for the paper's
    * random init); each round then mixes the partitions and recall
    * climbs toward the exact graph.
    *
    * Distributed shape: candidate generation is ONE self-join of the
    * edge list on the shared endpoint (≤ n·k² hop-2 rows + n·k
    * incumbents, k-bounded — never corpus-quadratic), a distinct on
    * the pair key, two id-keyed joins to fetch both endpoint vectors
    * (on a cluster these ride the corpus table's own key layout), one
    * compiled cosine per candidate, and a per-source rank window over
    * ≤ k² + k rows. Repeated rounds converge like the paper's; each
    * is one more bounded exchange. Cosine folds src-vector-first (the
    * [[knnGraphWithin]] / oracle convention).
    *
    * Kernel note (r13 verdict task — norm hoisting): the cosine's two
    * self-dots are per-id CONSTANTS, so each endpoint's norm is
    * computed once in the vector frame and carried through the two
    * id-keyed joins as one extra double column, instead of re-folding
    * both d-length self-dots per candidate row (~3× the necessary
    * kernel compute at n·k² candidates). Bit-identical to the inline
    * form — `sqrt(dot(v,v))` is the same correctly-rounded double
    * wherever it is evaluated and the denominator multiplies in the
    * same sn·cn order — pinned in SimilaritySpec. */
  def nnDescentRound(edges: DataFrame, embs: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e = edges.select(col("vec_id").cast("long").as("src"),
      col("neighbor_id").cast("long").as("nb"))
    val hop2 = e.as("a").join(e.as("b"), col("a.nb") === col("b.src"))
      .select(col("a.src").as("src"), col("b.nb").as("cand"))
    val cands = e.select(col("src"), col("nb").as("cand"))
      .union(hop2)
      .filter(col("src") =!= col("cand"))
      .distinct()
    val p = embs.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("v"))
      .withColumn("nrm",
        sqrt(graft.plans.expressions.vec_dot(col("v"), col("v"))))
    val scored = cands
      .join(p.select(col("id").as("src"), col("v").as("sv"),
        col("nrm").as("sn")), Seq("src"))
      .join(p.select(col("id").as("cand"), col("v").as("cv"),
        col("nrm").as("cn")), Seq("cand"))
      .select(col("src"), col("cand"),
        (graft.plans.expressions.vec_dot(col("sv"), col("cv")) /
          (col("sn") * col("cn")))
          .as("cosine"))
    val w = Window.partitionBy("src").orderBy(col("cosine").desc, col("cand"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("src").as("vec_id"), col("cand").as("neighbor_id"),
        col("rank"), col("cosine"))
  }

  /** MULTI-ROUND NN-DESCENT (r13 verdict task — the paper iterates
    * to convergence; one [[nnDescentRound]] only reaches hop-2 of the
    * seed): a driver loop of descent rounds, the [[graft.cluster
    * .KMeansNative.fit]] idiom applied to graph refinement. Each
    * round's candidate set contains the incumbent edges, so the
    * retained per-source top-k only ever improves and recall vs the
    * exact graph climbs monotonically (fixture trajectory measured in
    * SimilaritySpec / BASELINE.md); rounds reach hop-2^r of the seed.
    *
    * Materialization (the cached-plan discipline): round r's plan
    * references round r−1's output THREE times (the hop-2 self-join's
    * two sides + the incumbent union), so a lazy chain recomputes
    * upstream rounds ~3^r times. Each intermediate round is therefore
    * persisted and counted before the next builds on it, then
    * released once its successor is materialized; the FINAL round is
    * returned persisted and MATERIALIZED — the caller owns its
    * unpersist (the buildIndex contract). On executor loss the final
    * frame's lineage would recompute through released intermediates;
    * at 100 TB a scheduled graph job checkpoints rounds to the table
    * layout instead (one k-bounded parquet per round). */
  def nnDescent(seed: DataFrame, embs: DataFrame, idCol: String,
                vecCol: String, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    var cur = seed
    var curHandle: Option[DataFrame] = None
    var i = 0
    while (i < rounds) {
      val next = nnDescentRound(cur, embs, idCol, vecCol, k).persist()
      next.count()
      curHandle.foreach(_.unpersist())
      curHandle = Some(next)
      cur = next
      i += 1
    }
    cur
  }

  /** SEMANTIC EVAL-SET DECONTAMINATION through the persisted index
    * (r13) — the embedding-space twin of the n-gram
    * [[graft.operators.Dedup.decontamOverlap]] surface: held-out eval
    * items leak into training data as PARAPHRASES that share no
    * n-grams, so the decontamination pass a pretraining pipeline runs
    * needs a semantic arm. Each eval vector probes its `nProbe`
    * nearest cells of the SAME persisted [[IvfIndex]] every other
    * query serves; every corpus vector in a probed cell with cosine ≥
    * `threshold` is flagged with its best-matching (max cosine, tie →
    * min eval id) eval item. Work is Q·(nProbe/nCells)·corpus — the
    * labeled-probe law, never corpus × eval brute — and on the disk
    * layout the cell filter is partition pruning. Eval rows that are
    * themselves corpus members are excluded by id (self-similarity is
    * not contamination). Recall is the index's ([[probe]] contract):
    * a paraphrase homed outside the probed cells is missed, the
    * trade `ann_margin_recall` prices for the mining surface. */
  def semanticDecontam(index: IvfIndex, evals: Array[(Long, Array[Double])],
                       threshold: Double, nProbe: Int = 4): DataFrame = {
    val spark = index.cells.sparkSession
    import spark.implicits._
    val probes = evals.flatMap { case (qid, qv) =>
      val qn = math.sqrt(VectorOps.dotSeq(qv, qv))
      nearestCells(index.centers, qv, nProbe).map(cid => (qid, qv, qn, cid))
    }.toSeq
    val qdf = probes.toDF("eval_id", "qv", "qn", "cell")
    val neededCells = probes.map(_._4).distinct
    // a corpus row lives in ONE cell and an eval's probed cells are
    // distinct, so every (eval, corpus) pair meets at most once
    val scored = index.cells
      .filter(col("cell").isin(neededCells: _*))
      .join(broadcast(qdf), Seq("cell"))
      .filter(col("id") =!= col("eval_id"))
      .select(col("eval_id"), col("qv"), col("qn"), col("id"), col("v"))
      .as[(Long, Array[Double], Double, Long, Array[Double])]
      .map { case (qid, qv, qn, id, v) =>
        // eval vector folds first — the probe/oracle fold order
        (id, qid, VectorOps.dotSeq(qv, v) / (qn * math.sqrt(VectorOps.dotSeq(v, v))))
      }.toDF("vec_id", "eval_id", "cosine")
      .filter(col("cosine") >= threshold)
    val w = Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("eval_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("eval_id").as("matched_eval_id"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_id")
  }

  /** Exact-kernel cutover for [[marginKnnMiningAuto]]: below it the
    * B²-tiled exact cross kernel finds the TRUE margin-best partner
    * for every row and its compute (|X|·|Y| cosines ≈ n²/4) is cheap;
    * above it the quadratic term dominates everything and the
    * IVF-candidate path (compute Σ_cells m_x·m_y·nProbe) is the only
    * shape that survives — the [[graft.operators.Dedup
    * .ExactEmbMaxVectors]] constant for the same reason at the same
    * magnitude. */
  val ExactMarginMaxVectors = 50000L

  /** The DECLARED margin-mining entry (r12 verdict task 1 — the
    * [[graft.operators.Dedup.embeddingCosineAuto]] /
    * [[graft.operators.TextAnalysis.repeatedSpansAuto]] size-dispatch
    * idiom, third application): one corpus over both sides, split by
    * `xPred`/`yPred` over the normalized `id` column (the
    * [[marginKnnMiningIvf]] contract).
    *
    *  - n ≤ `exactMaxVectors`: the exact B²-tiled kernel
    *    ([[marginKnnMining]]) — every fixture sits here, so the
    *    declared query's oracle replays the exact side unchanged;
    *  - above: the IVF-candidate path ([[marginKnnMiningIvf]])
    *    against a constant-occupancy index — by default built
    *    in-place under the [[autoNCells]] production law (ScaleUp's
    *    `ann_margin_mining_dispatch` row measures this whole
    *    composition: count probe + build + mining); callers holding a
    *    persisted index pass it via `index` (also how rehearsal
    *    harnesses keep the unpersist handle).
    *
    * Both branches emit the same (x_id, y_id, margin_permille,
    * mutual) schema from the SAME [[marginStage]] arithmetic, so the
    * dispatch is invisible to consumers; candidate RECALL differs by
    * construction (the IVF side only sees probed cells — the
    * [[probe]] contract, measured by `ann_recall_eval` /
    * `dedup_embedding_recall`). The size probe is one column-pruned
    * count (parquet row-group metadata only). Dispatch law
    * spec-pinned branch-for-branch in SimilaritySpec.
    *
    * CACHE-HANDLE CAVEAT (r13 ADVICE): when the IVF branch builds its
    * index in-place (`index` = None), the index's persisted cells
    * frame has no handle the caller can unpersist — the returned plan
    * references it lazily, so it cannot be dropped inside this call
    * either. At-scale callers that invoke the IVF branch repeatedly
    * in one session MUST pass the `index` hook (build or load the
    * index themselves and manage its lifetime — the ScaleUp harness
    * pattern); the default in-place build is for one-shot jobs where
    * the session ends with the query. */
  def marginKnnMiningAuto(embs: DataFrame, idCol: String, vecCol: String,
                          xPred: Column, yPred: Column,
                          k: Int = 4, nProbe: Int = 4,
                          exactMaxVectors: Long = ExactMarginMaxVectors,
                          index: Option[Long => IvfIndex] = None): DataFrame = {
    val n = embs.select(col(idCol)).count()
    if (n <= exactMaxVectors) {
      val base = embs.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v"))
      marginKnnMining(base.filter(xPred), base.filter(yPred), "id", "v", k)
    } else {
      val idx = index.map(_(n)).getOrElse(
        buildIndex(embs, idCol, vecCol, nCells = autoNCells(n)))
      marginKnnMiningIvf(idx, xPred, yPred, k, nProbe)
    }
  }

  /** SAMPLE-BOUNDED exact margin ground truth (r13 verdict task 1 —
    * the `ann_recall_eval` / queryVecs idiom applied to the mining
    * eval): the exact margin-best partner for each of the first
    * `sampleQ` x-side rows, computed WITHOUT the O(|X|·|Y|) cross
    * kernel. This is what lets the one query that MEASURES the probe
    * contract's mining price (`ann_margin_recall`) run at the scale
    * where the number is the decision input — the full-corpus exact
    * kernel ([[marginKnnMining]]) was the last quadratic compute
    * reachable from a declared surface.
    *
    * Why a sample suffices: recall is an ESTIMATE by definition — the
    * mined-pair hit rate over sampleQ independent x-rows has the same
    * binomial error bars whether the denominator is the sample or the
    * corpus, and the sampled ground truth is EXACT per sampled row
    * (identical to the full kernel's bestX output restricted to the
    * sample — spec-pinned in SimilaritySpec).
    *
    * Linear shape, two one-job scans ([[sampledTopK]]) + driver
    * arithmetic:
    *  1. the sampleQ x vectors against a scan of ALL of Y
    *     (per-partition [[graft.functions.BoundedTopK]] heaps, the
    *     bruteForceTopK law) — each sampled x's true k-NN;
    *  2. those ≤ sampleQ·k candidate y vectors against a
    *     scan of ALL of X — each candidate's true reverse k-NN, which
    *     the ratio margin needs for its y-side neighborhood mean;
    *  3. the margin formula + best-partner selection on the driver
    *     over ≤ sampleQ·k rows (all-integer, [[marginStage]]'s exact
    *     arithmetic: m = ⌊(cos+1)·5·10⁵⌋, margin = (2k·1000·m) DIV
    *     (Σₖx + Σₖy), best by margin desc / cosine desc / y id —
    *     nulls-last like the window it mirrors).
    *
    * Total compute sampleQ·|Y| + sampleQ·k·|X| cosines — corpus-LINEAR
    * at fixed sampleQ, vs |X|·|Y| for the full kernel. Cosines fold
    * x-vector-first everywhere (the margin-family rule), so every
    * double is the one the full kernel and the oracle compute. */
  def marginMiningSampledExact(embs: DataFrame, idCol: String,
                               vecCol: String, xPred: Column, yPred: Column,
                               k: Int, sampleQ: Int): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    require(k >= 1 && sampleQ >= 1, "k and sampleQ must be >= 1")
    val base = embs.select(col(idCol).cast("long").as("id"),
      VectorOps.toDouble(col(vecCol)).as("v"))
    val xs = base.filter(xPred)
    val ys = base.filter(yPred)
    val qx = xs.orderBy("id").limit(sampleQ)
      .as[(Long, Array[Double])].collect()
    // stage 1: sampled x's exact top-k among ALL of Y (x folds first)
    val xk = sampledTopK(ys, qx, k, queryFoldsFirst = true)
    // stage 2: each mined candidate y's exact top-k among ALL of X —
    // the candidate set is Q·k-bounded, so collecting its vectors is
    // the k·d-centers discipline, not a corpus collect
    val candIds = xk.map(_._2).distinct.toSeq
    val candVecs = ys.filter(col("id").isin(candIds: _*))
      .as[(Long, Array[Double])].collect()
    val yk = sampledTopK(xs, candVecs, k, queryFoldsFirst = false)
    // stage 3: driver margin arithmetic over the bounded lists —
    // marginStage's integer formulas verbatim
    def mOf(c: Double): Long = math.floor((c + 1.0d) * 500000.0d).toLong
    val sx = xk.groupBy(_._1).map { case (x, rs) => x -> rs.map(r => mOf(r._3)).sum }
    val sy = yk.groupBy(_._1).map { case (y, rs) => y -> rs.map(r => mOf(r._3)).sum }
    val best = xk.groupBy(_._1).toSeq.map { case (xid, rows) =>
      val scored = rows.map { case (_, yid, c) =>
        val denom = sx(xid) + sy.getOrElse(yid, 0L)
        val margin: Option[Long] =
          if (denom == 0L) None else Some(2L * k * 1000L * mOf(c) / denom)
        (yid, c, margin)
      }
      // the bestX window order: margin desc (nulls last), cosine
      // desc, y id asc
      val (yid, _, margin) = scored.minBy { case (y, c, m) =>
        (if (m.isDefined) 0 else 1, -m.getOrElse(0L), -c, y)
      }
      (xid, yid, margin)
    }.sortBy(_._1)
    best.toDF("x_id", "y_id", "margin_permille")
  }

  /** Exact top-k kernel for the sampled margin ground truth: per
    * query, its k max-cosine rows of `corpus` (id, vector), returned as
    * driver rows (query, corpus-row, cosine) — callers' query sets are
    * Q- or Q·k-bounded. One [[topK]] job, queries in the closure.
    * `queryFoldsFirst` preserves the margin family's
    * x-vector-folds-first rule on both call sites (queries = x-side in
    * stage 1, corpus = x-side in stage 2), so every cosine is the exact
    * double of the full kernel and the oracle. No self-exclusion — the
    * two sides come from disjoint predicates ([[marginKnnMining]]'s
    * contract). */
  private[graft] def sampledTopK(corpus: DataFrame,
                                 queries: Array[(Long, Array[Double])], k: Int,
                                 queryFoldsFirst: Boolean): Array[(Long, Long, Double)] = {
    val qs = queries.map { case (_, v) => (v, math.sqrt(VectorOps.dotSeq(v, v))) }
    val qFirst = queryFoldsFirst
    topK("sampledTopK", corpus, queries.map(_._1), k, ScoreDesc) { rows =>
      val heaps = qs.map(_ => new BoundedTopK[(Double, Long)](k, ScoreDesc))
      rows.foreach { r =>
        val id = r.getLong(0)
        val v = r.getArray(1).toDoubleArray()
        val n = math.sqrt(VectorOps.dotSeq(v, v))
        var qi = 0
        while (qi < qs.length) {
          val (qv, qn) = qs(qi)
          val c =
            if (qFirst) VectorOps.dotSeq(qv, v) / (qn * n)
            else VectorOps.dotSeq(v, qv) / (n * qn)
          heaps(qi).offer((c, id))
          qi += 1
        }
      }
      heaps
    }.flatMap { case (qid, cs) => cs.map { case (c, id) => (qid, id, c) } }.toArray
  }

  /** GRAPH-NAVIGATED ANN SEARCH — the SEARCH half of the graph-ANN
    * story whose BUILD half is [[knnGraphWithin]] → [[nnDescent]]
    * (HNSW: Malkov & Yashunin, TPAMI 2018; DiskANN: Jayaram
    * Subramanya et al., NeurIPS 2019): greedy traversal of a
    * navigable kNN graph, here as a SYNCHRONOUS fixed-round beam
    * search so the trajectory is deterministic and oracle-expressible
    * (the papers' priority-queue loops terminate data-dependently,
    * which no CTE replay can pin).
    *
    * `entries` seeds each query's visited set (query_id, node rows) —
    * the declared surface seeds with the query's nearest IVF cell's
    * top members (the coarse-quantizer entry of hybrid IVF+graph
    * systems), so each round recovers true neighbors the cell probe
    * quantized AWAY — [[nnDescentRound]]'s cross-cell repair at query
    * time. Round r: the frontier is the `beam` best-scored VISITED
    * vertices per query (cosine desc under Spark's double order, so
    * −0.0 equals 0.0 and NaN is largest; null last; id asc — the
    * window's order); visited ∪= the frontier's neighbors over the
    * UNDIRECTED edge list (out-edges ∪ reversed edges, the NSW
    * bidirectional-link convention). After `rounds` rounds the answer
    * is the top-`k` of the visited set, the query's own vertex
    * excluded (the [[bruteForceTopK]] convention). A visited vertex
    * missing from `embs` is never scored, expanded or emitted; entries
    * of a query id not in `queries` are ignored; query ids must be
    * distinct.
    *
    * Shape ([[graphWalk]], on the skeleton it shares with
    * `KMeansNative.lloyd`: [[graft.util.Jobs.persisted]] and
    * [[graft.util.Jobs.roundJob]]): vectors
    * (with norms) and undirected edges are read ONCE into persisted
    * per-partition arrays sorted by id, the query vectors are broadcast
    * once, and the Q-bounded beam state — visited pairs and their
    * scores — lives on the DRIVER. Scores carry forward: the frontier
    * of round r + 1 lies in round r's frontier plus the pairs first
    * visited in round r, so job 0 scores the entry pairs and fetches
    * their nodes' adjacency, and job r only the pairs first visited in
    * round r and their new nodes' adjacency. A search is `rounds` + 1
    * shuffle-free jobs whose closures hold only ids; after the one read
    * each round costs O(ids asked · log partition size). The one read is
    * the trade-off: a call reads the whole corpus and edge list, so its
    * cost grows with the corpus, where the per-round `IN`-pruned point
    * lookups this replaced were near-flat. Measured on 10 queries, beam
    * 4, 3 rounds, 64-dim vectors, 8 out-edges, local[4] (median of 7):
    * 0.37–0.42 s at 20 k rows and 1.33–1.60 s at 200 k, against
    * 1.28–1.50 s and 1.46–1.69 s for the pruned loop, so the two meet
    * a little past 200 k rows.
    *
    * Cosine folds query-vector-first (dot(q,v)/(qn·vn), vn = √dot(v,v),
    * as `vec_dot` folds), bit-identical to the exact baseline and the
    * oracle: a dimension-mismatched or null vector scores null, and a
    * zero denominator raises what Spark's `Divide` raises under the
    * session's ANSI setting (null without ANSI).
    *
    * `emitFilter` (the DELETE stage) filters the final emission ONLY,
    * over (query_id, node, cosine): tombstoned nodes keep ROUTING the
    * walk (the FreshDiskANN discipline) but never leave as answers; the
    * top-k ranks over the passing nodes. It runs on the driver over a
    * local frame, where Catalyst folds the filter without a job. The
    * result is a local one-partition frame. */
  def graphSearch(edges: DataFrame, embs: DataFrame, idCol: String,
                  vecCol: String, queries: Array[(Long, Array[Double])],
                  entries: DataFrame, k: Int, beam: Int, rounds: Int,
                  emitFilter: Column = lit(true)): DataFrame = {
    val spark = embs.sparkSession
    graphSearchRows(edges, embs, idCol, vecCol, queries, entries, k, beam, rounds,
      emitFilter) match {
      case Some(rows) => spark.createDataFrame(rows.asJava, GraphSearchSchema).coalesce(1)
      case None => emptyGraphSearch(spark)
    }
  }

  /** A search's schema: the window plan's, whose cosine is nullable. */
  private val GraphSearchSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("cosine", DoubleType)))

  /** The typed empty result of a batch without entries. */
  private def emptyGraphSearch(spark: SparkSession): DataFrame =
    localFrame(spark, GraphSearchSchema.map(f => f.name -> f.dataType), Nil)

  /** [[graphSearch]]'s ranked rows, or None for a batch without entries. */
  private def graphSearchRows(edges: DataFrame, embs: DataFrame, idCol: String,
                              vecCol: String, queries: Array[(Long, Array[Double])],
                              entries: DataFrame, k: Int, beam: Int, rounds: Int,
                              emitFilter: Column): Option[Seq[Row]] = {
    require(k >= 1 && beam >= 1 && rounds >= 1,
      "k, beam and rounds must all be >= 1")
    graphWalk(edges, embs, idCol, vecCol, queries, entries, beam, rounds).map { scored =>
      val spark = embs.sparkSession
      val cands = for ((pairs, qi) <- scored.iterator.zipWithIndex;
                       qid = queries(qi)._1; (c, node) <- pairs if node != qid)
        yield Row(qid, node, c)
      val kept =
        if (GraftShims.expression(emitFilter) == Literal.TrueLiteral) cands.toSeq
        else spark.createDataFrame(cands.toSeq.asJava, StructType(Seq(
            GraphSearchSchema(0), StructField("node", LongType, nullable = false),
            GraphSearchSchema(3))))
          .filter(emitFilter).collect().toSeq
      kept.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap { case (qid, rows) =>
        rows.map(r => (r.get(2).asInstanceOf[java.lang.Double], r.getLong(1)))
          .sorted(CosineDesc).take(k).zipWithIndex
          .map { case ((c, node), i) => Row(qid, node, i + 1, c) }
      }
    }
  }

  /** The window's order over nullable cosines: nulls last. */
  private val CosineDesc: Ordering[(java.lang.Double, Long)] = (a, b) =>
    if (a._1 != null && b._1 != null) scoreDesc(a._1, a._2, b._1, b._2)
    else if (a._1 != null) -1
    else if (b._1 != null) 1
    else java.lang.Long.compare(a._2, b._2)

  /** One persisted partition of a [[graphWalk]] input, sorted by
    * `ids`: points (`vecs` with their `norms`; null for a null
    * vector) or undirected edges (`nbs`, ids being the sources). */
  private final case class GraphPart(ids: Array[Long], vecs: Array[ArrayData],
                                     norms: Array[Double], nbs: Array[Long]) {
    /** The indices holding `id`. */
    def indicesOf(id: Long): Range = {
      var lo = 0
      var hi = ids.length
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (ids(mid) < id) lo = mid + 1 else hi = mid }
      var end = lo
      while (end < ids.length && ids(end) == id) end += 1
      lo until end
    }
  }

  /** Left-to-right dot product over Catalyst's array form, as
    * `vec_dot` folds it (a null element reads as 0.0). */
  private def dotArray(q: Array[Double], v: ArrayData): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { s += q(i) * v.getDouble(i); i += 1 }
    s
  }

  /** The beam walk behind [[graphSearch]]: per query (in `queries`
    * order), its scored visited pairs as (cosine, node), or None when
    * `entries` is empty. See [[graphSearch]] for the round shape. */
  private def graphWalk(edges: DataFrame, embs: DataFrame, idCol: String,
                        vecCol: String, queries: Array[(Long, Array[Double])],
                        entries: DataFrame, beam: Int, rounds: Int)
      : Option[Array[ArrayBuffer[(java.lang.Double, Long)]]] = {
    val seeds = entries.select(col("query_id").cast("long"), col("node").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    if (seeds.isEmpty) return None
    val qIndex = queries.iterator.map(_._1).zipWithIndex.toMap
    require(qIndex.size == queries.length, "query ids must be distinct")
    val spark = embs.sparkSession
    val sc = spark.sparkContext
    val ansi = SQLConf.get.ansiEnabled
    val points = embs.select(col(idCol).cast("long"), VectorOps.toDouble(col(vecCol)))
      .queryExecution.toRdd.mapPartitions { rows =>
        val ps = rows.filter(!_.isNullAt(0))
          .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getArray(1).copy()))
          .toArray.sortBy(_._1)
        val vecs = ps.map(_._2)
        Iterator.single(GraphPart(ps.map(_._1), vecs,
          vecs.map(v => if (v == null) Double.NaN else math.sqrt(dotArray(v.toDoubleArray(), v))),
          null))
      }
    val adjacency = edges.select(col("vec_id").cast("long"), col("neighbor_id").cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val es = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
          .flatMap(r => Iterator((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
          .toArray.sortBy(_._1)
        Iterator.single(GraphPart(es.map(_._1), null, null, es.map(_._2)))
      }
    persisted(points.union(adjacency), "Similarity.graphSearch inputs") { parts =>
      val qb = sc.broadcast(queries.map { case (_, qv) => (qv, math.sqrt(VectorOps.dotSeq(qv, qv))) })
      try {
        val seen = Array.fill(queries.length)(mutable.LongMap.empty[Unit])
        val scored = Array.fill(queries.length)(ArrayBuffer.empty[(java.lang.Double, Long)])
        val adj = mutable.LongMap.empty[ArrayBuffer[Long]]
        var pending = seeds.flatMap { case (qid, node) => qIndex.get(qid).map(qi => (qi, node)) }
        pending.foreach { case (qi, node) => seen(qi)(node) = () }
        var r = 0
        while (r <= rounds) {
          val fetch = if (r == rounds) Array.emptyLongArray
            else pending.map(_._2).distinct.filterNot(adj.contains)
          if (pending.nonEmpty || fetch.nonEmpty) {
            val (pq, pn) = (pending.map(_._1), pending.map(_._2))
            val out = roundJob(parts, s"Similarity.graphSearch round $r/$rounds") { it =>
              val got = ArrayBuffer.empty[(Int, Long, java.lang.Double)]
              val nbs = ArrayBuffer.empty[(Long, Long)]
              it.foreach { part =>
                if (part.vecs != null) {
                  val qs = qb.value
                  var i = 0
                  while (i < pq.length) {
                    val (qv, qn) = qs(pq(i))
                    for (j <- part.indicesOf(pn(i))) {
                      val v = part.vecs(j)
                      val den = qn * part.norms(j)
                      val c: java.lang.Double =
                        if (v == null || (!ansi && den == 0.0) || v.numElements() != qv.length) null
                        else if (den == 0.0) throw GraftShims.divideByZero()
                        else dotArray(qv, v) / den
                      got += ((pq(i), pn(i), c))
                    }
                    i += 1
                  }
                } else
                  fetch.foreach(node => part.indicesOf(node).foreach(j => nbs += ((node, part.nbs(j)))))
              }
              (got.toArray, nbs.toArray)
            }
            fetch.foreach(adj(_) = ArrayBuffer.empty[Long])
            out.foreach { case (ss, es) =>
              ss.foreach { case (qi, node, c) => scored(qi) += ((c, node)) }
              es.foreach { case (node, nb) => adj(node) += nb }
            }
          }
          if (r < rounds) {
            val next = ArrayBuffer.empty[(Int, Long)]
            for (qi <- scored.indices;
                 f <- scored(qi).sorted(CosineDesc).iterator.take(beam).map(_._2).distinct;
                 nb <- adj(f) if !seen(qi).contains(nb)) {
              seen(qi)(nb) = ()
              next += ((qi, nb))
            }
            pending = next.toArray
          }
          r += 1
        }
        Some(scored)
      } finally qb.destroy()
    }
  }

  /** Per-chunk query bound for [[graphSearchBulk]]: the largest number
    * of in-flight queries whose beam state one [[graphSearch]] loop
    * may hold on the driver. 4096 queries × ~(|entries| +
    * rounds·beam·deg) visited pairs ≈ one-to-two million
    * (query, node, score) entries — tens of megabytes, INDEPENDENT of
    * how large the ingest batch is. A chunk's fixed cost is one search:
    * one read of corpus and edges into persisted arrays plus rounds + 1
    * round jobs, the same at any chunk width, so a wider chunk
    * amortizes it linearly. Sized from the r16 rehearsal, when that
    * fixed cost was ~8 s of per-round plans (3 rounds × 2 bounded
    * collects + scoring joins) regardless of chunk width between 1 k
    * and 10 k queries: 1024 priced ingest at ~7.5 ms/vector where 4096
    * reached ~2 ms/vector with the driver bound still flat in corpus
    * AND batch size. (r15's headline 1.7 ms/vector predated the stride
    * fix: the `id % nChunks` chunk key silently collapsed the mod-10
    * rehearsal batch into TWO 10 k-query chunks — the bound this
    * constant exists to enforce was not actually being held.) */
  val BulkChunkQ = 4096

  /** BULK [[graphSearch]] for CORPUS-PROPORTIONAL query batches — the
    * ingest path (r14 verdict task 1). [[graphSearch]]'s driver-held
    * beam state is Q-bounded BY DESIGN: correct for serving-sized Q,
    * a scale-killer when the "queries" are a bulk-ingest batch (a
    * fraction of the corpus — millions of vectors × ~40 visited pairs
    * each would be tens of GB of driver arrays). Per-query
    * independence makes chunking RESULT-INVISIBLE: every stage of the
    * search (entry seed, frontier rank, expansion, final rank) is
    * keyed/windowed by `query_id` and never looks across queries, so
    * the union of per-chunk results is row-identical to the one-batch
    * result under ANY chunking (spec-pinned; the streaming insert
    * twin's micro-batch row-identity is the same fact observed from
    * the other side).
    *
    * Chunks are the partitions of ONE round-robin repartition of the
    * batch (r15 verdict task 5 + ADVICE): round-robin spreads ANY id
    * distribution — stride-structured residue classes included, where
    * the previous `id % nChunks` key left only nChunks/gcd chunks
    * populated and could collapse the whole batch into one chunk —
    * into nChunks near-equal partitions (≤ ⌈|batch|/nChunks⌉ +
    * #source-partitions rows each). The shuffle map stage runs ONCE;
    * each chunk's `runJob` then fetches exactly one reduce partition,
    * so the new batch is scanned once total instead of once per chunk
    * (the old per-chunk filter rescanned O(|batch|²/chunkQ) rows).
    * The loop holds ONE chunk's ids+vectors on the driver at a time
    * (the previous chunk's arrays are garbage by then), runs the
    * fixed-round search, and APPENDS the chunk's k-bounded result to
    * one parquet sink — at any moment the driver holds one bounded
    * chunk's state and nothing is pinned in executor storage memory.
    * Eager by contract (each chunk materializes on its own — the
    * ingest loop IS the work); returns the scan of the sink, so the
    * plan has ONE leaf however many chunks ran (no nChunks-leg union)
    * and callers own no persist/unpersist contract — sink dirs are
    * JVM-lifetime artifacts removed by a shutdown hook. Each chunk's
    * one read of corpus and edges amortizes over its chunkQ queries,
    * and its ranked rows are written straight from the driver. */
  def graphSearchBulk(edges: DataFrame, embs: DataFrame, idCol: String,
                      vecCol: String, newBatch: DataFrame,
                      batchIdCol: String, batchVecCol: String,
                      entriesOf: Array[(Long, Array[Double])] => DataFrame,
                      k: Int, beam: Int, rounds: Int,
                      chunkQ: Int = BulkChunkQ): DataFrame =
    graphSearchBulkWithSink(edges, embs, idCol, vecCol, newBatch,
      batchIdCol, batchVecCol, entriesOf, k, beam, rounds, chunkQ)._1

  /** [[graphSearchBulk]] with PER-BATCH sink release (r16 verdict
    * task 8): the batch result is handed to `consume`, and the
    * batch's parquet sink is deleted as soon as `consume` returns
    * (success or failure) — a long-lived serving session issuing
    * many ingest batches holds tmp disk FLAT instead of accumulating
    * one JVM-lifetime sink per batch. Use when the result is folded
    * somewhere durable inside `consume` (written to the
    * content-addressed layout, merged into a compaction input,
    * collected to bounded driver state); the returned value must not
    * retain the consumed DataFrame — its one leaf is gone. The
    * classic [[graphSearchBulk]] keeps its JVM-lifetime contract for
    * callers whose result must outlive the call (FixtureCache memos,
    * downstream consolidates). */
  def graphSearchBulkConsume[T](edges: DataFrame, embs: DataFrame,
                                idCol: String, vecCol: String,
                                newBatch: DataFrame, batchIdCol: String,
                                batchVecCol: String,
                                entriesOf: Array[(Long, Array[Double])] => DataFrame,
                                k: Int, beam: Int, rounds: Int,
                                chunkQ: Int = BulkChunkQ)
                               (consume: DataFrame => T): T = {
    val (df, sinkDir) = graphSearchBulkWithSink(edges, embs, idCol, vecCol,
      newBatch, batchIdCol, batchVecCol, entriesOf, k, beam, rounds, chunkQ)
    try consume(df)
    finally sinkDir.foreach(releaseBulkSink)
  }

  private def graphSearchBulkWithSink(edges: DataFrame, embs: DataFrame,
                                      idCol: String, vecCol: String,
                                      newBatch: DataFrame, batchIdCol: String,
                                      batchVecCol: String,
                                      entriesOf: Array[(Long, Array[Double])] => DataFrame,
                                      k: Int, beam: Int, rounds: Int,
                                      chunkQ: Int): (DataFrame, Option[java.io.File]) = {
    require(chunkQ >= 1, "chunkQ must be >= 1")
    val spark = embs.sparkSession
    val src = newBatch.select(col(batchIdCol).cast("long").as("qid"),
      VectorOps.toDouble(col(batchVecCol)).as("qv"))
    val total = src.count()
    if (total == 0L) return (emptyGraphSearch(spark), None)
    val nChunks = math.min((total + chunkQ - 1) / chunkQ,
      Int.MaxValue.toLong).toInt
    val chunked = src.repartition(nChunks).rdd
    val (sink, sinkDir) = newBulkSink()
    var wrote = false
    var c = 0
    while (c < nChunks) {
      val chunk = spark.sparkContext.runJob(chunked,
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toArray,
        Seq(c)).head
      if (chunk.nonEmpty) {
        val rows = graphSearchRows(edges, embs, idCol, vecCol, chunk,
          entriesOf(chunk), k, beam, rounds, lit(true)).getOrElse(Nil)
        if (rows.nonEmpty) {
          spark.createDataFrame(rows.asJava, GraphSearchSchema).coalesce(1)
            .write.mode("append").parquet(sink)
          wrote = true
        }
      }
      c += 1
    }
    if (!wrote) (emptyGraphSearch(spark), Some(sinkDir))
    else (spark.read.parquet(sink), Some(sinkDir))
  }

  /** The bulk-ingest sinks are JVM-lifetime artifacts (the returned
    * scan must outlive the call; FixtureCache memos and downstream
    * consolidates read them for the session), removed at JVM exit —
    * so repeated in-process runs (Bench reps, ScaleUp rehearsals)
    * cannot accumulate tmp-disk parquet across processes (r15
    * ADVICE). */
  private val bulkSinks = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val bulkSinkHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = bulkSinks.iterator()
      while (it.hasNext) deleteRecursively(it.next())
    }))
    true
  }

  private def newBulkSink(): (String, java.io.File) = {
    require(bulkSinkHookInstalled)
    val dir = java.nio.file.Files.createTempDirectory("graft-bulk-")
    bulkSinks.add(dir.toFile)
    (dir.resolve("out").toString, dir.toFile)
  }

  /** Release one bulk batch's sink NOW instead of at JVM exit — the
    * [[graphSearchBulkConsume]] contract. Idempotent; unregisters the
    * dir from the shutdown hook's queue first. */
  private def releaseBulkSink(dir: java.io.File): Unit = {
    bulkSinks.remove(dir)
    deleteRecursively(dir)
  }

  /** Content-addressed GRAPH directory for (corpus file, build-param
    * chain) — the [[indexDirFor]] discipline applied to the refined
    * edge list: the navigable graph is the SECOND half of the serving
    * store and must reboot from disk like the index does. The
    * identity covers every parameter the edges depend on: the seed
    * union's k/buckets/salt, the descent round count, and the full
    * coarse-quantizer build chain (the within-cell seed graph is a
    * function of the trained index), plus a `variant` tag for
    * restricted corpora (the insert path's settled side). */
  def graphDirFor(corpusFile: java.io.File, graphK: Int, nBuckets: Int,
                  seedSalt: Long, rounds: Int, nCells: Int, trainIters: Int,
                  trainSample: Int, seed: Long, variant: String = ""): String = {
    val ident = Seq(corpusFile.getAbsolutePath, corpusFile.lastModified,
      corpusFile.length, graphK, nBuckets, seedSalt, rounds, nCells,
      trainIters, trainSample, seed, variant, "nn-descent-v1").mkString("|")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(32)
    new java.io.File(System.getProperty("java.io.tmpdir"), s"graft-graph-$digest")
      .getAbsolutePath
  }

  /** Persist a refined edge list: parquet SORTED by vec_id, so a
    * reader's id-range filters prune on row-group min/max stats.
    * Written to a temp dir and renamed — the [[writeIndex]]
    * crash-safety contract: a crashed build never half-populates the
    * content-addressed path. */
  def writeGraph(edges: DataFrame, dir: String): Unit = {
    val path = java.nio.file.Paths.get(dir)
    val tmp = java.nio.file.Paths.get(dir + ".tmp-" + java.util.UUID.randomUUID)
    edges.sort("vec_id").write.mode("overwrite")
      .parquet(tmp.resolve("edges").toString)
    if (!tmp.toFile.renameTo(path.toFile)) {
      deleteRecursively(tmp.toFile)
      // only a lost race (target now populated by a concurrent build)
      // is benign; anything else must not silently disable persistence
      if (!java.nio.file.Files.exists(
          path.resolve("edges").resolve("_SUCCESS")))
        throw new java.io.IOException(
          s"could not persist graph to $dir (rename failed and no graph present)")
    }
  }

  def readGraph(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/edges")

  /** Load the refined edge list for (corpus, params) from `dir` if
    * present, else build, persist, and read it BACK from the layout —
    * the returned frame is always disk-resident, so a later process
    * (or a serving reboot) and the building process navigate the
    * byte-identical artifact. Cross-process build-once/serve-many,
    * exactly like [[loadOrBuildIndex]]. */
  def loadOrBuildGraph(spark: org.apache.spark.sql.SparkSession, dir: String)
                      (build: => DataFrame): DataFrame = {
    if (!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "edges", "_SUCCESS")))
      writeGraph(build, dir)
    readGraph(spark, dir)
  }
}
