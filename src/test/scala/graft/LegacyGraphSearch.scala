package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** The per-round plan formulation of `Similarity.graphSearch` — a
  * window + broadcast-join query planned per round, with the corpus
  * and edge scans pruned by IN-lists below [[IsinPushdownMaxIds]]
  * distinct ids — kept verbatim as the row-for-row reference of the
  * round loop that replaced it. */
object LegacyGraphSearch {

  /** Above this many distinct ids the per-round pruning predicate
    * switches from an IN pushdown to a plain broadcast join —
    * a several-thousand-literal In expression costs more in
    * planning/serialization than the one corpus scan it avoids, and
    * a bulk-ingest batch amortizes that scan over all its queries
    * (measured at the 10× insert: 4 000 queries → ~16 k visited ids;
    * the In-literal plans dominated the loop). */
  val IsinPushdownMaxIds = 1024

  /** GRAPH-NAVIGATED ANN SEARCH — the SEARCH half of the graph-ANN
    * story whose BUILD half is [[knnGraphWithin]] → [[nnDescent]]
    * (HNSW: Malkov & Yashunin, TPAMI 2018; DiskANN: Jayaram
    * Subramanya et al., NeurIPS 2019): greedy traversal of a
    * navigable kNN graph, here as a SYNCHRONOUS fixed-round beam
    * search so the trajectory is deterministic and
    * oracle-expressible (the fixed-rounds discipline applied to
    * best-first search — the papers' priority-queue loops terminate
    * data-dependently, which no CTE replay can pin).
    *
    * `entries` seeds each query's visited set (query_id, node rows) —
    * the declared surface seeds with the query's nearest IVF cell's
    * top members (the coarse-quantizer entry every hybrid
    * IVF+graph system uses; DiskANN's medoid entry is the
    * one-global-vertex special case), so the graph walk starts in
    * the right region and each round recovers true neighbors the
    * cell probe quantized AWAY — the same cross-cell repair
    * [[nnDescentRound]] performs at build time, now at query time.
    *
    * Round r: the frontier is the `beam` best-scored VISITED vertices
    * per query (cosine desc, id asc — the global rank order); the
    * frontier's edges join in their neighbors — the edge list is
    * navigated UNDIRECTED (out-edges ∪ reversed edges, the NSW
    * bidirectional-link convention: a kNN digraph's reverse edges
    * are exactly the "who considers me a neighbor" links that make
    * hubs navigable); visited ∪= the expansion. After `rounds`
    * rounds the per-query answer is the top-`k` of the visited set,
    * the query's own vertex excluded (corpus-member queries would
    * find themselves at rank 1 — the [[bruteForceTopK]] convention,
    * so recall compares directly).
    *
    * Distributed shape (the serving law at 100 TB): the beam state —
    * (query, node) visited pairs, ≤ Q·(|entries| + rounds·beam·deg)
    * rows, deg ≤ 2k undirected on average (Σdeg = 2nk exactly) — is
    * Q-BOUNDED, so it lives on the DRIVER (the k·d-centers
    * discipline: bounded iterative state never rides an executor
    * frame) and each round pushes the visited/frontier id lists DOWN
    * as `IN` predicates: the corpus scoring scan and the edge-list
    * expansion scan are both row-group-PRUNED point lookups (parquet
    * min/max stats; the cell-partitioned disk layout at scale), not
    * corpus scans. CORPUS SIZE appears in no round's work — the
    * property that makes graph search the query-serving path once
    * the graph is built (the build amortizes under [[nnDescent]]'s
    * production law). The visited set is re-scored each round for
    * oracle parity — a disclosed constant-factor trade (≤ ~200
    * rows/query at the declared params; production scores only the
    * new expansion and carries scores forward).
    *
    * Two bounded jobs per round (frontier rank + expansion fetch —
    * the driver-loop floor every iterative surface here pays); the
    * final RANKED frame is returned LAZY over one pruned scan +
    * broadcast state — callers that re-read it memoize or persist
    * (the declared query's FixtureCache pattern). Cosine folds
    * query-vector-first (dot(q,v)/(qn·vn) — the [[bruteForceTopK]] /
    * oracle fold), so scores are bit-identical to the exact
    * baseline's. */
  /** `emitFilter` (r16, the DELETE stage): a predicate applied to the
    * final ranked emission ONLY — navigation is untouched, so
    * tombstoned nodes keep ROUTING the walk (the FreshDiskANN
    * discipline: a deleted point stays a navigable waypoint until
    * compaction physically removes it) but never leave the store as
    * answers; the top-k ranks over the passing nodes. The default
    * `lit(true)` is the classic search — existing callers and hashes
    * unchanged. */
  def graphSearch(edges: DataFrame, embs: DataFrame, idCol: String,
                  vecCol: String, queries: Array[(Long, Array[Double])],
                  entries: DataFrame, k: Int, beam: Int, rounds: Int,
                  isinMaxIds: Int = IsinPushdownMaxIds,
                  emitFilter: Column = lit(true)): DataFrame = {
    require(k >= 1 && beam >= 1 && rounds >= 1,
      "k, beam and rounds must all be >= 1")
    val spark = embs.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("vec_id").cast("long").as("src"),
      col("neighbor_id").cast("long").as("nb"))
    val e = e0.union(e0.select(col("nb").as("src"), col("src").as("nb")))
    val p = embs.select(col(idCol).cast("long").as("node"),
        VectorOps.toDouble(col(vecCol)).as("v"))
      .withColumn("vn",
        sqrt(graft.plans.expressions.vec_dot(col("v"), col("v"))))
    val qdf = queries.map { case (qid, qv) =>
      (qid, qv, math.sqrt(VectorOps.dotSeq(qv, qv)))
    }.toSeq.toDF("query_id", "qv", "qn")
    // score the driver-held visited pairs: broadcast the bounded
    // state; the corpus access dispatches on the DISTINCT-ID count
    // (the size-dispatch idiom, fourth application): a small id set
    // becomes an IN predicate pushed into the scan (row-group-pruned
    // point lookups — the Q≈10 serving path), while a large batch's
    // ids (bulk ingest: thousands of queries) would make a
    // several-thousand-literal In expression the planner chokes on —
    // there the plain broadcast join is the right plan, its one
    // corpus scan amortized over the whole batch
    def prunedBy(df: DataFrame, idCol2: String, ids: Array[Long]): DataFrame =
      if (ids.length <= isinMaxIds)
        df.filter(col(idCol2).isin(ids.map(Long.box): _*))
      else df
    def scored(visited: Array[(Long, Long)]): DataFrame = {
      val ids = visited.map(_._2).distinct
      // broadcast pinned (r18): the visited pairs are Q-bounded driver
      // state; past ~10 MB of local-relation estimate (a wide bulk
      // chunk) the planner would otherwise flip this to a sort-merge
      // join and SHUFFLE THE CORPUS side — the exact inversion the
      // Q-bounded design exists to prevent
      broadcast(visited.toSeq.toDF("query_id", "node"))
        .join(prunedBy(p, "node", ids), Seq("node"))
        .join(broadcast(qdf), Seq("query_id"))
        .select(col("query_id"), col("node"),
          (graft.plans.expressions.vec_dot(col("qv"), col("v")) /
            (col("qn") * col("vn"))).as("cosine"))
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("node"))
    var visited: Array[(Long, Long)] = entries
      .select(col("query_id").cast("long"), col("node").cast("long"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // a query whose entry probe found nothing (e.g. it is the sole
    // member of its nearest cell) simply emits no rows; a batch where
    // EVERY query is entry-less returns a well-typed empty frame —
    // the streaming twin relies on this being uniform with the batch
    // surface under any micro-batch split (r14 review)
    if (visited.isEmpty)
      return Seq.empty[(Long, Long, Int, Double)]
        .toDF("query_id", "neighbor_id", "rank", "cosine")
    // ONE bounded job per round (r18, guide §2.4/§5 driver round-trips
    // — half the classic two): the frontier rank no longer collects to
    // the driver and re-enters as a local relation; the SAME window +
    // filter feeds the expansion join IN-PLAN, and only the expansion
    // rows come back. The edge scan prunes on the full VISITED id set
    // (driver-known, a superset of the frontier ids the plan selects)
    // instead of the frontier ids — same point-lookup row-group
    // pruning, one round earlier in the plan; join equality on
    // node = src decides membership, so pruning width cannot change
    // rows. The frontier side is explicitly broadcast (≤ Q·beam rows,
    // Q-bounded) so the corpus-sized edge list is never shuffled —
    // the property the collected local relation used to provide
    // implicitly. Frontier selection, scoring expression and the
    // visited ∪ expansion distinct are unchanged, so the trajectory —
    // and therefore every emitted row — is bit-identical to the
    // two-job loop (SimilaritySpec pins this; oracle unchanged).
    var r = 0
    while (r < rounds) {
      val vIds = visited.map(_._2).distinct
      val frontier = scored(visited)
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= beam)
        .select(col("query_id"), col("node"))
      val expansion = broadcast(frontier)
        .join(prunedBy(e, "src", vIds), col("node") === col("src"))
        .select(col("query_id"), col("nb").as("node"))
        .collect().map(row => (row.getLong(0), row.getLong(1)))
      visited = (visited ++ expansion).distinct
      r += 1
    }
    scored(visited)
      .filter(col("node") =!= col("query_id"))
      .filter(emitFilter)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"),
        col("rank"), col("cosine"))
  }
}
