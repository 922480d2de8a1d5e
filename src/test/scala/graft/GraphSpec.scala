package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(97L + i)))

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRankFixedPoint(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("law: distributed fixed-point PageRank equals the pure reference exactly") {
    val gen = for {
      nNodes <- Gen.choose(2, 12)
      nEdges <- Gen.choose(1, 30)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, nNodes - 1L), Gen.choose(0L, nNodes - 1L)))
      iters <- Gen.choose(0, 4)
    } yield (edges, iters)
    sample(gen, 8).foreach { case (edges, iters) =>
      assert(run(edges, iters) === GraphReference.pageRankReference(edges, iters),
        s"edges=$edges iters=$iters")
    }
  }

  test("law: degree-oriented triangle counts equal naive enumeration on random graphs") {
    def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val tris = for {
        a <- nodes; b <- nodes if a < b && und((a, b))
        c <- nodes if b < c && und((b, c)) && und((a, c))
      } yield (a, b, c)
      tris.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    }
    val gen = for {
      nNodes <- Gen.choose(3, 14)
      nEdges <- Gen.choose(1, 50)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, nNodes - 1L), Gen.choose(0L, nNodes - 1L)))
    } yield edges
    sample(gen, 8).foreach { edges =>
      val got = Graph.triangleCounts(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === reference(edges), s"edges=$edges")
    }
    // K4: every node sits on C(3,2) = 3 triangles
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val gotK4 = Graph.triangleCounts(k4.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotK4 === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("symmetric 2-cycle ranks equal; star center out-ranks leaves; mass conserved") {
    val cycle = run(Seq((1L, 2L), (2L, 1L)), 10)
    assert(cycle(1L) === cycle(2L))
    // 2-cycle has no dangling nodes: total fixed-point mass stays
    // within iters ulps of Scale (each round truncates a few units)
    assert(math.abs(cycle.values.sum - Graph.Scale) <= 100L)
    // leaves all point at the center; center's rank dominates
    val star = run((2L to 6L).map(i => (i, 1L)), 10)
    assert((2L to 6L).forall(i => star(1L) > star(i)))
    // dangling center leaks mass — sum strictly below Scale, all > 0
    assert(star.values.sum < Graph.Scale && star.values.forall(_ > 0))
  }

  test("law: distributed label propagation equals the pure reference exactly") {
    val gen = for {
      nNodes <- Gen.choose(2, 12)
      nEdges <- Gen.choose(1, 30)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, nNodes - 1L), Gen.choose(0L, nNodes - 1L)))
      iters <- Gen.choose(0, 4)
    } yield (edges, iters)
    sample(gen, 8).foreach { case (edges, iters) =>
      if (edges.exists(e => e._1 != e._2)) {
        val got = Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", iters)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === GraphReference.labelPropReference(edges, iters),
          s"edges=$edges iters=$iters")
      }
    }
  }

  test("label propagation: two disjoint triangles converge to per-clique min labels") {
    val twoTris = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
    val got = Graph.labelPropagation(twoTris.toDF("src", "dst"), "src", "dst", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // within a triangle every node sees the other two; min-tie-break
    // drives all three to the clique minimum, communities never mix
    assert(Set(got(1L), got(2L), got(3L)).subsetOf(Set(1L, 2L, 3L)))
    assert(Set(got(10L), got(11L), got(12L)).subsetOf(Set(10L, 11L, 12L)))
    assert(got(1L) === got(2L) || got(2L) === got(3L) || got(1L) === got(3L))
  }

  test("law: frontier-expansion BFS equals the pure reference exactly") {
    val gen = for {
      nNodes <- Gen.choose(2, 14)
      nEdges <- Gen.choose(1, 30)
      edges <- Gen.listOfN(nEdges,
        Gen.zip(Gen.choose(0L, nNodes - 1L), Gen.choose(0L, nNodes - 1L)))
      src <- Gen.choose(0L, nNodes - 1L)
    } yield (edges, src)
    sample(gen, 8).foreach { case (edges, src) =>
      val got = Graph.bfsHops(edges.toDF("src", "dst"), "src", "dst", src)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === GraphReference.bfsReference(edges, src), s"edges=$edges src=$src")
    }
  }

  test("bfs: path graph distances are 0..n-1; unreachable nodes are absent") {
    val path = (0L until 5L).sliding(2).map(w => (w(0), w(1))).toSeq ++
      Seq((90L, 91L)) // a disconnected component
    val got = Graph.bfsHops(path.toDF("src", "dst"), "src", "dst", 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("bfs: maxHops truncates the expansion") {
    val path = (0L until 6L).sliding(2).map(w => (w(0), w(1))).toSeq
    val got = Graph.bfsHops(path.toDF("src", "dst"), "src", "dst", 0L, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  // pure Bellman-Ford over the directed weighted edge list, self-loops
  // dropped — the reference for ssspWeighted
  private def ssspReference(edges: Seq[(Long, Long, Long)], source: Long): Map[Long, Long] = {
    val es = edges.filter(e => e._1 != e._2)
    var dist = Map(source -> 0L)
    var changed = true
    while (changed) {
      changed = false
      es.foreach { case (s, d, w) =>
        dist.get(s).foreach { ds =>
          if (dist.get(d).forall(_ > ds + w)) { dist += d -> (ds + w); changed = true }
        }
      }
    }
    dist
  }

  test("law: distributed weighted SSSP equals pure Bellman-Ford on random digraphs") {
    val gen = for {
      nNodes <- Gen.choose(2, 10)
      nEdges <- Gen.choose(1, 30)
      edges <- Gen.listOfN(nEdges, Gen.zip(
        Gen.choose(0L, nNodes - 1L), Gen.choose(0L, nNodes - 1L), Gen.choose(1L, 20L)))
    } yield edges
    sample(gen, 8).foreach { edges =>
      val got = Graph.ssspWeighted(edges.toDF("src", "dst", "w"), "src", "dst", "w", 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === ssspReference(edges, 0L), s"edges=$edges")
    }
  }

  test("sssp: picks the cheaper two-hop route over the heavy direct edge") {
    val edges = Seq((0L, 2L, 10L), (0L, 1L, 2L), (1L, 2L, 3L))
    val got = Graph.ssspWeighted(edges.toDF("src", "dst", "w"), "src", "dst", "w", 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 2L, 2L -> 5L))
  }
}
