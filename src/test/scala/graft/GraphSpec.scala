package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

/** Unit semantics for [[graft.ops.Graph.pagerank]] on graphs small
  * enough to reason about by hand (the sf-data oracle checks the
  * distributed arithmetic; these pin the MODEL).
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long, Double)], iters: Int = 3): Map[Long, Double] =
    Graph.pagerank(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def lpa(edges: Seq[(Long, Long, Long)], iters: Int = 4): Map[Long, Long] =
    Graph.labelPropagation(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("LPA: two triangles joined by one weak bridge form two communities") {
    // triangle {1,2,3}, triangle {4,5,6}, bridge 3-4
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val got = lpa(tri.map { case (a, b) => (a, b, 1L) })
    assert(got(1L) == got(2L) && got(2L) == got(3L), got)
    assert(got(4L) == got(5L) && got(5L) == got(6L), got)
    assert(got(1L) != got(4L), got)
  }

  test("LPA: ties break toward the smallest label, making runs deterministic") {
    // path 1-2-3: node 2 sees labels {1, 3} with equal weight → adopts 1
    val got = lpa(Seq((1L, 2L, 1L), (2L, 3L, 1L)), iters = 1)
    assert(got(2L) == 1L, got)
  }

  test("LPA: heavier edge wins over node-id order") {
    // node 2 attached to 1 (w=1) and 9 (w=5): weight beats smaller label
    val got = lpa(Seq((1L, 2L, 1L), (2L, 9L, 5L)), iters = 1)
    assert(got(2L) == 9L, got)
  }

  test("coreness: K4 + pendant converges to exact core numbers, with and without und0") {
    // K4 {1,2,3,4} + pendant 4-5: coreness 3 on the clique, 1 on the
    // pendant (h-index fixpoint reaches it in 2 rounds; 3 is safe)
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)) :+ ((4L, 5L))
    val e = k4.toDF("src", "dst")
    val expect = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L)
    val self = Graph.coreness(e, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(self == expect, self)
    // caller-owned und0 (the und_src memo shape: symmetrized distinct,
    // src-partitioned) must yield the identical table
    val und0 = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")).persist()
    val shared = Graph.coreness(e, 3, und0 = Some(und0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    und0.unpersist()
    assert(shared == expect, shared)
  }

  test("ltmCascade: a fully-active in-neighborhood always clears its threshold") {
    // star 1-{2,3} seeded at the center: each leaf's ONLY neighbor is
    // active in round 1 (n_in = indeg = 1 → n_in·1e6 ≥ θ_ppm·indeg for
    // every θ_ppm < 1e6), so the curve is threshold-independent; later
    // rounds add nothing
    val e = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.ltmCascade(e, seeds, rounds = 2, thetaSalt = "t:")
    assert(got == Seq((0L, 1L, 1L), (1L, 2L, 3L), (2L, 0L, 3L)), got)
  }

  private def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    Graph.kCore(edges.toDF("src", "dst"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore: pendant chain peels away, the clique survives with its degrees") {
    // K4 {1,2,3,4} + chain 4-5-6: at k=3 the chain cascades off
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val got = core(k4 ++ Seq((4L, 5L), (5L, 6L)), k = 3)
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got)
  }

  test("kCore: removal cascades multiple rounds (path graph empties at k=2)") {
    // path 1-2-3-4-5: each round only the current endpoints drop
    val got = core(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), k = 2)
    assert(got.isEmpty, got)
  }

  test("kCore: cycle is exactly its own 2-core; self-loops and duplicates ignored") {
    val got = core(Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 1L)), k = 2)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), got)
  }

  private def truss(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] =
    Graph.kTruss(edges.toDF("src", "dst"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("kTruss: 3-truss keeps the triangle, sheds the pendant edge") {
    // triangle {1,2,3} + pendant 3-4: pendant has support 0
    val got = truss(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)), k = 3)
    assert(got == Map((1L, 2L) -> 1L, (2L, 3L) -> 1L, (1L, 3L) -> 1L), got)
  }

  test("kTruss: peel cascades — losing one triangle's edge collapses the next") {
    // two triangles sharing edge 2-3: every edge is in exactly 1
    // triangle except 2-3 (support 2). At k=4 the outer edges go
    // first, then 2-3's support collapses → empty.
    val got = truss(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L)), k = 4)
    assert(got.isEmpty, got)
  }

  test("kTruss: K4 is exactly its own 4-truss (every edge in 2 triangles)") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val got = truss(k4, k = 4)
    assert(got.size == 6 && got.values.forall(_ == 2L), got)
  }

  test("kTruss: k-core does not imply k-truss (C5 is a 2-core, 3-truss-empty)") {
    val c5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    assert(truss(c5, k = 3).isEmpty)
    assert(core(c5, k = 2).keySet == Set(1L, 2L, 3L, 4L, 5L))
  }

  private def bfs(edges: Seq[(Long, Long)], srcs: Seq[Long]): Map[Long, Long] =
    Graph.bfsDistances(edges.toDF("src", "dst"), srcs.toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bfsDistances: hop counts on a path with a shortcut") {
    // path 1-2-3-4-5 plus shortcut 1-4: dist(4)=1, dist(5)=2
    val got = bfs(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L)), Seq(1L))
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L), got)
  }

  test("bfsDistances: multi-source takes the nearer seed; unreachable nodes absent") {
    // component A: 1-2-3; component B: 10-11 (unreached)
    val got = bfs(Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq(1L, 3L))
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 0L), got)
  }

  test("edgeJaccard: triangle plus pendant edge") {
    // triangle {1,2,3} + pendant 3-4
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val got = Graph.edgeJaccard(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    // edge (1,2): shares neighbor 3; deg 2,2; j = 1/(2+2-1)
    assert(got((1L, 2L)) == ((1L, 2L, 2L, 0.333333)), got)
    // edge (3,4): no shared neighbor; deg 3,1; j = 0
    assert(got((3L, 4L)) == ((0L, 3L, 1L, 0.0)), got)
    assert(got((1L, 3L)) == ((1L, 2L, 3L, 0.25)), got)
  }

  test("personalized pagerank: mass concentrates near the seed, zero off-component") {
    // two components: cycle 1<->2 (seeded) and cycle 3<->4 (not)
    val edges = Seq((1L, 2L, 1.0), (2L, 1L, 1.0), (3L, 4L, 1.0), (4L, 3L, 1.0))
    val pr = Graph.personalizedPagerank(edges.toDF("src", "dst", "w"), Seq(1L).toDF("node"), 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(3L) == 0.0 && pr(4L) == 0.0, pr)
    // closed seeded component keeps the whole restart mass (a 2-cycle
    // oscillates between the endpoints per iteration, so only the sum
    // is iteration-count-stable)
    assert(pr(1L) > 0 && pr(2L) > 0 && math.abs(pr(1L) + pr(2L) - 1000.0) < 0.01, pr)
  }

  test("symmetric 2-cycle keeps the uniform distribution exactly") {
    val pr = ranks(Seq((1L, 2L, 1.0), (2L, 1L, 1.0)))
    // mass 1000 over 2 nodes: 500 each, and the update maps 500 -> 500
    assert(pr(1L) == 500.0 && pr(2L) == 500.0, pr)
  }

  test("a sink hub accumulates rank from all spokes") {
    // star: 1,2,3 -> 4; 4 -> 1 (so 4 is not dangling)
    val pr = ranks(Seq((1L, 4L, 1.0), (2L, 4L, 1.0), (3L, 4L, 1.0), (4L, 1L, 1.0)))
    assert(pr(4L) > pr(1L) && pr(1L) > pr(2L), pr)
    assert(pr(2L) == pr(3L), pr) // symmetric spokes tie exactly
  }

  test("edge weights steer proportional mass") {
    // 1 splits 3:1 between 2 and 3; both return to 1
    val pr = ranks(Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0)))
    assert(pr(2L) > pr(3L), pr)
    // subtract the damped base (150/3 = 50 exactly): what remains is
    // 0.85 · pr(1) · share, so the 3:1 split survives verbatim
    assert(math.abs((pr(2L) - 50.0) - 3.0 * (pr(3L) - 50.0)) < 1e-3, pr)
  }

  test("dangling node receives only the damped base term") {
    // 1 -> 2, 2 has no out-edges (mass leaks by the simple convention)
    val pr = ranks(Seq((1L, 2L, 1.0)), iters = 1)
    // N=2: base = 150/2 = 75; node 1 gets only base (nothing points at it)
    assert(pr(1L) == 75.0, pr)
    // node 2 gets base + 0.85 * pr0(1) = 75 + 0.85*500 = 500
    assert(pr(2L) == 500.0, pr)
  }

  test("total mass is conserved on a graph with no dangling nodes") {
    val edges = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 1L, 1.0), (3L, 2L, 1.0), (2L, 1L, 1.0))
    val total = ranks(edges).values.sum
    assert(math.abs(total - 1000.0) < 0.01, total)
  }

  private def hubsAuths(edges: Seq[(Long, Long, Long)], iters: Int = 2): Map[Long, (Long, Long)] =
    Graph.hits(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("HITS: star — the pointing center is the unit hub, spokes are unit authorities") {
    val got = hubsAuths(Seq((0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 1L)))
    assert(got(0L) == (1000000L, 0L), got)           // pure source: no in-edges
    assert(Seq(1L, 2L, 3L).forall(got(_) == (0L, 1000000L)), got) // pure sinks
  }

  test("HITS: edge weight splits hub scores exactly (integer max-normalization)") {
    // 1 -(w2)-> 3, 2 -(w1)-> 3: after rescale hub(1)=1e6, hub(2)=5e5 exactly
    val got = hubsAuths(Seq((1L, 3L, 2L), (2L, 3L, 1L)), iters = 1)
    assert(got(1L)._1 == 1000000L && got(2L)._1 == 500000L, got)
    assert(got(3L) == (0L, 1000000L), got)
  }

  private def dists(edges: Seq[(Long, Long, Long)], from: Long): Map[Long, Long] = {
    import spark.implicits._
    Graph.sssp(edges.toDF("src", "dst", "w"), Seq(from).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("SSSP: a cheap two-hop path beats the expensive direct edge") {
    // 1-3 costs 10 direct, but 1-2-3 costs 2
    val got = dists(Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 1L)), from = 1L)
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L), got)
  }

  test("SSSP: parallel edges keep the min cost; unreachable nodes are absent") {
    val got = dists(Seq((1L, 2L, 5L), (1L, 2L, 2L), (3L, 4L, 1L)), from = 1L)
    assert(got == Map(1L -> 0L, 2L -> 2L), got)
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("HITS: iters = 0 materializes nothing; every node scores (scale, 0)") {
    val before = persisted
    val got = hubsAuths(Seq((1L, 2L, 1L), (2L, 3L, 4L)), iters = 0)
    assert((persisted -- before).isEmpty)
    assert(got == Map(1L -> (1000000L, 0L), 2L -> (1000000L, 0L), 3L -> (1000000L, 0L)), got)
  }

  test("HITS: bit-deterministic across runs") {
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (1L, 3L, 1L), (4L, 2L, 5L))
    assert(hubsAuths(edges) == hubsAuths(edges))
  }

  private def bc(edges: Seq[(Long, Long)], roots: Seq[Long]): Map[Long, Long] =
    Graph.brandesBetweenness(edges.toDF("src", "dst"), roots.toDF("node"))
      .groupBy(col("node")).agg(sum(col("delta")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("Brandes: on 1-2-3-4 with chord 1-3, only node 3 carries dependency from root 1") {
    // from 1: d(2)=d(3)=1 (σ=1 each), d(4)=2 via 3 only → δ(3)=1e6
    val got = bc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)), Seq(1L))
    assert(got == Map(2L -> 0L, 3L -> 1000000L, 4L -> 0L), got)
  }

  test("Brandes: contributions sum across roots; split paths halve the credit") {
    // square 1-2-4, 1-3-4: from root 1, σ(4)=2 via 2 and 3 → each
    // carries σv·1e6/σw = 500000; from root 4 symmetric.
    val got = bc(Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L)), Seq(1L, 4L))
    assert(got(2L) == 1000000L && got(3L) == 1000000L, got)
    assert(got(1L) == 0L && got(4L) == 0L, got)
  }

  test("Brandes: errors loudly when the BFS outruns maxDepth") {
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
    intercept[IllegalStateException] {
      Graph.brandesBetweenness(path.toDF("src", "dst"), Seq(1L).toDF("node"),
        maxDepth = 2).count()
    }
  }

  test("Brandes: caller-owned dist0 yields the identical dependency table") {
    // square with chord + pendant, 2 roots — levels of mixed sizes so
    // both expansion orders (small-previous / small-next) are exercised
    val edges = Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val roots = Seq(1L, 5L)
    val e = edges.toDF("src", "dst")
    val r = roots.toDF("node")
    val plain = Graph.brandesBetweenness(e, r)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    val dist = Graph.bfsDistancesPerSource(e, r)
    val viaDist = Graph.brandesBetweenness(e, r, dist0 = Some(dist))
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(viaDist == plain, s"viaDist=$viaDist plain=$plain")
  }

  test("Brandes: dist0 deeper than maxDepth errors loudly") {
    val path = (1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq
    val e = path.toDF("src", "dst")
    val r = Seq(1L).toDF("node")
    val dist = Graph.bfsDistancesPerSource(e, r)
    intercept[IllegalStateException] {
      Graph.brandesBetweenness(e, r, maxDepth = 2, dist0 = Some(dist)).count()
    }
  }

  test("Brandes: dist0 with a missing level errors by name and leaks nothing") {
    val path = (1L to 5L).sliding(2).map(s => (s(0), s(1))).toSeq
    val e = path.toDF("src", "dst")
    val r = Seq(1L).toDF("node")
    // path 1-2-3-4-5 from root 1: depths 0..4, depth 2 cut out
    val truncated = Graph.bfsDistancesPerSource(e, r).filter(col("d") =!= 2)
    val before = persisted
    val err = intercept[IllegalStateException] {
      Graph.brandesBetweenness(e, r, dist0 = Some(truncated))
    }
    assert(err.getMessage.contains("dist0 has no rows at depth 2 below its deepest level 4"),
      err.getMessage)
    assert((persisted -- before).isEmpty)
  }
}
