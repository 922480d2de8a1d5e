package graft

import graft.operators.Graph

/** Pure single-threaded references of the integer graph iterations in
  * [[Graph]]: the ScalaCheck bridges between each cluster plan and its
  * unrolled SQL oracle. */
object GraphReference {

  /** Pure single-threaded reference of the integer recurrence of
    * `Graph.pageRankFixedPoint` — the ScalaCheck bridge between the cluster plan and the unrolled
    * SQL oracle (all three must agree exactly). */
  def pageRankReference(edges: Seq[(Long, Long)], iters: Int,
                        dampNum: Long = 85, dampDen: Long = 100): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    if (nodes.isEmpty) return Map.empty
    val n = nodes.length.toLong
    val deg = e.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
    val base = (Graph.Scale / n) * (dampDen - dampNum) / dampDen
    var pr = nodes.map(_ -> Graph.Scale / n).toMap
    (1 to iters).foreach { _ =>
      val inflow = e.groupBy(_._2).map { case (d, in) =>
        d -> in.map { case (s, _) => pr(s) / deg(s) }.sum
      }
      pr = nodes.map(v => v -> (base + dampNum * inflow.getOrElse(v, 0L) / dampDen)).toMap
    }
    pr
  }

  /** Pure reference of the deterministic synchronous label
    * propagation (`Graph.labelPropagation`) — the ScalaCheck bridge (cluster plan, this,
    * and the unrolled SQL oracle must agree exactly). */
  def labelPropReference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nb = (und ++ und.map(_.swap)).groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
    val nodes = nb.keys.toSeq.sorted
    var lbl = nodes.map(v => v -> v).toMap
    (1 to iters).foreach { _ =>
      lbl = nodes.map { v =>
        val counts = nb(v).map(lbl).groupBy(identity).map { case (l, xs) => (l, xs.size) }
        // most frequent neighbor label, ties -> smallest label
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    lbl
  }

  /** Pure reference BFS over the undirected view — the ScalaCheck
    * bridge for `Graph.bfsHops` (same canonicalization as
    * `Graph.labelPropagation`: self-loops dropped, edges undirected). */
  def bfsReference(edges: Seq[(Long, Long)], source: Long): Map[Long, Long] = {
    val nb = edges.filter(t => t._1 != t._2)
      .flatMap(t => Seq(t, t.swap)).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    if (!nb.contains(source)) return Map(source -> 0L)
    var dist = Map(source -> 0L)
    var frontier = Set(source)
    var h = 1L
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(nb.getOrElse(_, Nil)).diff(dist.keySet)
      dist ++= next.map(_ -> h)
      frontier = next
      h += 1
    }
    dist
  }
}
