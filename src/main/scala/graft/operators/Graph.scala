package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FIXED-POINT INTEGER PAGERANK — the engine's second hash-checkable
  * iterative algorithm (after the exact-decimal Lloyd fit): ranks are
  * BIGINT fixed-point at [[Scale]], and every step is integer
  * multiply / integer DIV with explicit truncation, so a DuckDB
  * oracle unrolls the rounds and reproduces each rank bit-for-bit —
  * float PageRank can only ever be rows-checked (summation order
  * changes low bits), which is why engines' graph demos dodge the
  * hash gate. The float limit of this recurrence is the standard
  * damped PageRank; truncation error per step is < 1 ulp of the
  * fixed point (1e-12 of total mass).
  *
  * Semantics: pr⁰(v) = Scale DIV N for all N nodes; each round
  *   pr⁺(v) = base + (dampNum · Σ_{u→v} (pr(u) DIV deg(u))) DIV dampDen
  * with base = ((Scale DIV N) · (dampDen − dampNum)) DIV dampDen.
  * Dangling nodes (no out-edges) simply leak their mass — the
  * classic simplified formulation, deterministic and documented.
  *
  * Scale shape: per round, the contribution join shuffles the EDGE
  * list and the inflow aggregate shuffles partial sums per node —
  * both linear in the graph, never a transitive closure. The
  * multi-referenced frames (edges+degrees, nodes) are pinned as
  * persisted RDDs (LogicalRDD leaves); the rank chain itself stays
  * ONE lazy plan: unlike [[Dedup.connectedComponents]] — whose
  * rounds reference their predecessor several times and grow the
  * tree geometrically — each PageRank round references its
  * predecessor exactly once, so the plan grows linearly in `iters`
  * and compiles once (per-round RDD pinning here measured 10×
  * ~0.5 s of per-round Catalyst compile for nothing). */
object Graph {
  val Scale = 1000000000000L

  /** PER-NODE TRIANGLE COUNTS over an undirected graph (directed
    * input is canonicalized: self-loops dropped, each edge kept once
    * as u < v). The join is DEGREE-ORIENTED — every edge points from
    * its (degree, id)-smaller endpoint to the larger, and wedges are
    * built only from each node's OUT-edges — the classic bound: out-
    * degree under this orientation is O(√m) on any graph (arboricity
    * argument), so wedge count is Σ outdeg² ≤ O(m^1.5) instead of the
    * naive Σ deg² which a single hub makes quadratic. The orientation
    * is RESULT-INVISIBLE (a triangle is a triangle however its edges
    * point), so the oracle stays the naive a<b<c 3-way self-join —
    * the salted-agg/bloom pattern again: scale mechanics the oracle
    * never sees. Output: (node, n_tri), nodes with ≥ 1 triangle. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = raw.select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient: src = (deg, id)-smaller endpoint
    val o = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("dst"))
    // wedges from out-edges (x < y to count each unordered pair once),
    // closed by the canonical undirected edge set
    val wedges = o.as("x").join(o.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tri = wedges.join(und,
      least(col("b"), col("c")) === col("u") && greatest(col("b"), col("c")) === col("v"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** DETERMINISTIC SYNCHRONOUS LABEL PROPAGATION — community
    * detection as the engine's FOURTH hash-checkable iterative
    * algorithm (after the exact Lloyd fit, min-label connected
    * components, and fixed-point PageRank). Classic async LPA is
    * run-order-dependent by construction; this variant is fully
    * deterministic: every round, simultaneously, each node adopts the
    * MOST FREQUENT label among its neighbors' round-(r−1) labels,
    * ties broken by the SMALLEST label (argmin over (−count, label) —
    * the [[graft.operators.TextAnalysis.langId]] struct-min trick).
    * Labels start as node ids. The oracle unrolls the rounds with a
    * per-round `row_number() OVER (ORDER BY c DESC, lbl)` — every
    * label after every round is hash-checked, not just the final
    * communities.
    *
    * Scale shape: per round, one edge-list join against the label
    * frame + two hash aggregates — linear in edges, never a closure;
    * edges and nodes pinned once outside the loop (the PageRank
    * pattern: each round references its predecessor exactly once, so
    * the lazy plan grows linearly). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 5): DataFrame = {
    require(iters >= 0)
    val spark = edges.sparkSession
    val und = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    val nbRdd = und.select(col("u"), col("v"))
      .union(und.select(col("v"), col("u")))
      .rdd.map(r => (r.getLong(0), r.getLong(1))).persist()
    val nb = spark.createDataFrame(nbRdd).toDF("node", "nbr")
    val lblRdd = nbRdd.keys.distinct().map(v => (v, v)).persist()
    var lbl = spark.createDataFrame(lblRdd).toDF("node", "lbl")
    (1 to iters).foreach { _ =>
      val prev = lbl.select(col("node").as("_pn"), col("lbl"))
      lbl = nb
        .join(prev, nb("nbr") === col("_pn"))
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((col("c") * -1).as("nc"), col("lbl").as("l")))
          .getField("l").as("lbl"))
    }
    lbl
  }

  /** MINIMUM-HOP BFS from one source over the undirected view of an
    * edge list — frontier-expansion iteration, the Pregel shape: each
    * round joins ONLY the current frontier against the adjacency list
    * (never the full distance table), anti-joins out already-settled
    * nodes, and stops at the first empty frontier (driver-side
    * emptiness check on an already-materialized count, the MLlib
    * iteration pattern; rounds are bounded by the graph diameter and
    * hard-capped by `maxHops`). Nothing ever collects: frontier and
    * distance stay distributed, keyed by node — at 100 TB the
    * per-round exchange carries the frontier's adjacency, not the
    * graph. Output: (node, hops) for every node reachable from
    * `source`, including (source, 0). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              source: Long, maxHops: Int = 32): DataFrame = {
    require(maxHops >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    val nbRdd = und.select(col("u"), col("v"))
      .union(und.select(col("v"), col("u")))
      .rdd.map(r => (r.getLong(0), r.getLong(1))).persist()
    val nb = spark.createDataFrame(nbRdd).toDF("node", "nbr")
    var dist = Seq((source, 0L)).toDF("node", "hops")
    var frontier = dist.select("node").persist()
    var h = 1L
    while (h <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(nb, Seq("node"))
        .select(col("nbr").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .persist()
      // every frontier stays pinned: dist is the union of all of
      // them, so un-persisting one would force lineage recompute of
      // the whole chain — the pinned set is ≤ |reachable nodes| ids
      dist = dist.unionByName(next.select(col("node"), lit(h).as("hops")))
      frontier = next
      h += 1
    }
    dist
  }

  /** WEIGHTED SINGLE-SOURCE SHORTEST PATHS over a DIRECTED edge list
    * with non-negative BIGINT weights — distributed Bellman-Ford with
    * the frontier optimization (the delta-stepping degenerate case):
    * each round relaxes ONLY the edges leaving nodes whose distance
    * improved last round, merges candidates into the distance table by
    * integer MIN, and stops at the first round with no improvement
    * (driver-side emptiness check on a materialized frame — the same
    * bounded-iteration pattern as [[bfsHops]]; rounds are bounded by
    * the longest shortest path's hop count and hard-capped by
    * `maxRounds`). All arithmetic is BIGINT add/min, so every round —
    * and hence the fixed point — is bit-portable; the DuckDB oracle
    * unrolls the same relaxation rounds. Distances stay distributed
    * keyed by node; per-round exchange carries the frontier's
    * out-edges, never the graph. Output: (node, cost) for nodes
    * reachable from `source`, including (source, 0). */
  def ssspWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                   wCol: String, source: Long, maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val eRdd = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), col(wCol).cast("long").as("w"))
      .filter(col("src") =!= col("dst"))
      .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).persist()
    val e = spark.createDataFrame(eRdd).toDF("src", "dst", "w")
    var dist = Seq((source, 0L)).toDF("node", "cost")
    var frontier = dist.persist()
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      val cand = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("cost") + col("w")).as("cost"))
        .groupBy("node").agg(min(col("cost")).as("cost"))
      val improved = cand.alias("c")
        .join(dist.select(col("node"), col("cost").as("_old")), Seq("node"), "left")
        .filter(col("_old").isNull || col("cost") < col("_old"))
        .select(col("node"), col("cost"))
        .persist()
      if (improved.isEmpty) converged = true
      else {
        // overlap keys keep the smaller (= improved) cost; rounds are
        // diameter-bounded so the persisted chain stays short
        dist = dist.unionByName(improved)
          .groupBy("node").agg(min(col("cost")).as("cost"))
          .persist()
        frontier = improved
      }
      r += 1
    }
    dist
  }

  /** Distributed fixed-point PageRank over an edge list. Output:
    * (node, pr) with pr the BIGINT fixed-point rank after `iters`
    * rounds. */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int = 10,
                         dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
    require(iters >= 0 && dampNum > 0 && dampDen > dampNum)
    val spark = edges.sparkSession
    def pin(df: DataFrame): org.apache.spark.rdd.RDD[(Long, Long)] =
      df.rdd.map(r => (r.getLong(0), r.getLong(1))).persist()
    def df2(rdd: org.apache.spark.rdd.RDD[(Long, Long)], a: String, b: String): DataFrame =
      spark.createDataFrame(rdd).toDF(a, b)

    val eRdd = pin(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val e = df2(eRdd, "src", "dst")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val n = nodes.count()
    if (n == 0) return spark.emptyDataFrame.select(lit(0L).as("node"), lit(0L).as("pr")).limit(0)
    val init = Scale / n
    val base = (Scale / n) * (dampDen - dampNum) / dampDen
    // (src, dst, deg) joined ONCE outside the loop and pinned — one
    // join per round instead of two (the rounds' cost here is fixed
    // per-round plan/dispatch overhead, not data)
    val edRdd = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .select(col("src"), col("dst"), col("deg"))
      .rdd.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).persist()
    val ed = spark.createDataFrame(edRdd).toDF("src", "dst", "deg")

    val nRdd = pin(nodes.select(col("node"), lit(init).as("pr")))
    val nodesDf = df2(nRdd, "node", "pr").select("node")
    var pr = df2(nRdd, "node", "pr")
    (1 to iters).foreach { _ =>
      val prDf = pr.select(col("node").as("_pn"), col("pr"))
      val inflow = ed
        .join(prDf, ed("src") === col("_pn"))
        .select(col("dst"), expr("pr DIV deg").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      // Column `/` on longs is DOUBLE division — the recurrence must
      // stay in true integer DIV or ranks drift off the oracle by ulps
      pr = nodesDf.join(inflow, nodesDf("node") === inflow("dst"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"($dampNum * coalesce(inflow, 0L)) DIV $dampDen")).as("pr"))
    }
    pr
  }
}
