package graft.ops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("two-node cycle is the fixed point: 0.5 each at any iteration") {
    val pr = ranks(Seq((1L, 2L), (2L, 1L)), iters = 7)
    assert(math.abs(pr(1L) - 0.5) < 1e-12)
    assert(math.abs(pr(2L) - 0.5) < 1e-12)
  }

  test("dangling sink: hand-computed one iteration (mass conserved)") {
    // a -> b; b dangles. pr0 = (.5, .5); dangling mass .5 spreads /2
    // pr1(a) = .15/2 + .85*(0 + .25) = .2875
    // pr1(b) = .15/2 + .85*(.5 + .25) = .7125
    val pr = ranks(Seq((1L, 2L)), iters = 1)
    assert(math.abs(pr(1L) - 0.2875) < 1e-12)
    assert(math.abs(pr(2L) - 0.7125) < 1e-12)
    assert(math.abs(pr.values.sum - 1.0) < 1e-12)
  }

  test("star: the hub out-ranks every leaf and total mass stays 1") {
    val leaves = (2L to 9L)
    val pr = ranks(leaves.map(_ -> 1L), iters = 5)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    leaves.foreach(l => assert(pr(1L) > pr(l)))
    // symmetric leaves tie exactly
    assert(leaves.map(pr).toSet.size == 1)
  }

  test("rank flows through chains: closer-to-sink accumulates more") {
    val pr = ranks(Seq((1L, 2L), (2L, 3L), (3L, 4L)), iters = 10)
    assert(pr(4L) > pr(3L) && pr(3L) > pr(2L) && pr(2L) > pr(1L))
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
  }

  test("converged stop: two-node cycle stops after one iteration probe") {
    // the cycle starts AT the fixed point, so iteration 1's L1 delta is 0
    // and the tolerance loop must stop immediately instead of running 50
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = Graph.pageRankConverged(edges, "src", "dst",
        tolerance = 1e-9, maxIterations = 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val oneIterRef = Graph.pageRank(edges, "src", "dst", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // exact equality with the one-iteration reference proves the loop
    // stopped after the first (zero-delta) step — no timing assertion
    // needed (wall-clock checks flake under CI load)
    assert(pr == oneIterRef)
    assert(math.abs(pr(1L) - 0.5) < 1e-12 && math.abs(pr(2L) - 0.5) < 1e-12)
  }

  test("converged stop matches fixed-iteration result within tolerance") {
    val edges = (0L until 100L).map(i => (i, (i * 13 + 5) % 40)).toDF("src", "dst")
    val conv = Graph.pageRankConverged(edges, "src", "dst",
        tolerance = 1e-8, maxIterations = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fixed = Graph.pageRank(edges, "src", "dst", iterations = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(conv.keySet == fixed.keySet)
    conv.foreach { case (k, v) => assert(math.abs(v - fixed(k)) < 1e-6) }
    assert(math.abs(conv.values.sum - 1.0) < 1e-9)
  }

  test("weighted: all-equal weights reduce to the unweighted ranks") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    val w = Graph.pageRankWeighted(
        edges.map { case (s, d) => (s, d, 2.5) }.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val u = ranks(edges, iters = 8)
    u.foreach { case (k, v) => assert(math.abs(w(k) - v) < 1e-12) }
  }

  test("weighted: heavier edge pulls proportionally more rank") {
    // hub 1 links to 2 (w=9) and 3 (w=1): after one iteration from the
    // uniform start, node 2's contribution share is 0.9 vs node 3's 0.1
    val pr = Graph.pageRankWeighted(
        Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 1L, 1.0), (3L, 1L, 1.0))
          .toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // pr0 = 1/3 each. pr1(2) = .15/3 + .85*(1/3*0.9) = .305
    // pr1(3) = .15/3 + .85*(1/3*0.1) = .078333...
    assert(math.abs(pr(2L) - 0.305) < 1e-12)
    assert(math.abs(pr(3L) - (0.05 + 0.85 / 30.0)) < 1e-12)
    assert(math.abs(pr.values.sum - 1.0) < 1e-12)
  }

  test("weighted rejects non-positive and null weights") {
    intercept[IllegalArgumentException] {
      Graph.pageRankWeighted(
        Seq((1L, 2L, 0.0), (2L, 1L, 1.0)).toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 1).collect()
    }
  }

  test("weighted rejects NaN weights (NaN <= 0 is false in SQL)") {
    intercept[IllegalArgumentException] {
      Graph.pageRankWeighted(
        Seq((1L, 2L, Double.NaN), (2L, 1L, 1.0)).toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 1).collect()
    }
  }

  test("converged stop on an empty edge list returns empty immediately") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRankConverged(empty, "src", "dst",
      tolerance = 1e-9, maxIterations = 50).collect().isEmpty)
  }

  test("triangle count: K4 has 4, plus a pendant and noise edges") {
    // K4 on {1,2,3,4} (4 triangles), pendant 4-5, disconnected 6-7
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L))
    val out = Graph.triangleCount(edges.toDF("s", "d"), "s", "d").collect()(0)
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((7L, 8L, 4L)))
  }

  test("triangle count: direction, duplicates and self-loops are cleaned") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), // one canonical edge
      (2L, 3L), (3L, 1L),                          // closes one triangle
      (3L, 3L))                                    // self-loop dropped
    val out = Graph.triangleCount(edges.toDF("s", "d"), "s", "d").collect()(0)
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) == ((3L, 3L, 1L)))
  }

  test("triangle count: matches brute force on a hashed random graph") {
    val edges = (for {
      i <- 0 until 25; j <- 0 until 25
      if i != j && (i * 31 + j * 17) % 5 < 2
    } yield (i.toLong, j.toLong)).toSeq
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val set = canon.toSet
    val ns = canon.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    var want = 0L
    for (i <- ns.indices; j <- i + 1 until ns.size; k <- j + 1 until ns.size)
      if (set((ns(i), ns(j))) && set((ns(i), ns(k))) && set((ns(j), ns(k))))
        want += 1
    val out = Graph.triangleCount(edges.toDF("s", "d"), "s", "d").collect()(0)
    assert(out.getLong(2) == want && want > 0)
  }

  test("adamic-adar: path graph scores the endpoints via the center") {
    // 1-2-3: only non-edge is (1,3), one common neighbor 2 of degree 2
    val out = Graph.adamicAdar(
      Seq((1L, 2L), (2L, 3L)).toDF("s", "d"), "s", "d").collect()
    assert(out.length == 1)
    val r = out(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 3L, 1L)))
    assert(math.abs(r.getDouble(3) - 1.0 / math.log(2.0)) < 1e-6)
  }

  test("adamic-adar: existing edges are excluded, rare centers out-score hubs") {
    // square 1-2-3-4-1 plus hub 5 attached to 1 and 3: pair (1,3) has
    // common neighbors {2, 4, 5}; (2,4) has {1, 3}. Edge (1,2) never
    // appears even though it shares neighbors.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (5L, 1L), (5L, 3L)).toDF("s", "d")
    val out = Graph.adamicAdar(edges, "s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(!out.contains((1L, 2L)))
    assert(out((1L, 3L))._1 == 3L) // centers 2, 4, 5
    assert(out((2L, 4L))._1 == 2L) // centers 1, 3
    // (2,4)'s centers both have degree 3; (2,5)'s center 1 and 3 too —
    // but (1,3) with three degree-2/2/3 centers scores highest overall
    val best = out.maxBy(_._2._2)
    assert(best._1 == ((1L, 3L)))
  }

  test("adamic-adar: maxDegree excludes hub centers from scoring") {
    // star center 1 with leaves 2..6 (deg 5) + chain 2-7-3: with
    // maxDegree=4 the hub is excluded, so leaf pairs like (4,5) lose
    // their only center; surviving wedges are center 7 -> (2,3) and
    // centers 2,3 (deg 2 each) -> (1,7)
    val edges = (2L to 6L).map(l => (1L, l)) ++ Seq((2L, 7L), (7L, 3L))
    val out = Graph.adamicAdar(edges.toDF("s", "d"), "s", "d",
        maxDegree = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((2L, 3L), (1L, 7L)))
    assert(out((2L, 3L)) == 1L)
    assert(out((1L, 7L)) == 2L)
    // without the cap, the hub center mints every leaf pair
    val full = Graph.adamicAdar(edges.toDF("s", "d"), "s", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((4L, 5L)))
  }

  test("label propagation: two cliques with a bridge settle into two communities") {
    // K4 on 1-4, K4 on 11-14, bridge 4-11
    val k = (s: Long) => for (i <- s to s + 3; j <- i + 1 to s + 3) yield (i, j)
    val edges = (k(1L) ++ k(11L) :+ (4L, 11L)).toDF("s", "d")
    val out = Graph.labelPropagation(edges, "s", "d", iterations = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // min-tie synchronous LPA: both cliques adopt their minimum id
    assert((1L to 4L).forall(n => out(n)._1 == 1L))
    assert((11L to 14L).forall(n => out(n)._1 == 11L), s"got $out")
    assert(out(1L)._2 == 4L && out(12L)._2 == 4L)
  }

  test("label propagation: deterministic across partitionings") {
    val edges = (for {
      i <- 0 until 40; j <- 0 until 40
      if i != j && (i * 17 + j * 13) % 7 < 2
    } yield (i.toLong, j.toLong)).toSeq
    def run(parts: Int) =
      Graph.labelPropagation(edges.toDF("s", "d").repartition(parts),
        "s", "d", 3).collect().map(_.toSeq).toSeq
    assert(run(1) == run(23))
  }

  test("kCore: cascade peeling finds exactly the clique") {
    // K4 on 1-4 plus a tail 4-5-6 plus pendant 1-7: the 3-core is K4
    // alone, and peeling cascades (7 goes first, then 6, then 5)
    val k4 = for (i <- 1L to 4L; j <- i + 1 to 4L) yield (i, j)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (1L, 7L))).toDF("s", "d")
    val out = Graph.kCore(edges, "s", "d", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a k that empties the graph returns an empty frame, converged
    assert(Graph.kCore(edges, "s", "d", k = 5).count() == 0L)
  }

  test("kCore: unconverged within maxRounds fails loudly") {
    // a 12-node path needs ~6 cascading rounds at k=2 to empty;
    // maxRounds=2 must refuse rather than return a partial peel
    val path = (1L until 12L).map(i => (i, i + 1))
    intercept[IllegalArgumentException] {
      Graph.kCore(path.toDF("s", "d"), "s", "d", k = 2, maxRounds = 2)
        .collect()
    }
  }

  test("assortativity: star is perfectly disassortative at -1") {
    // star: every edge joins deg-5 hub to deg-1 leaf -> r = -1
    val star = (2L to 6L).map(l => (1L, l)).toDF("s", "d")
    val out = Graph.assortativity(star, "s", "d").collect()(0)
    assert(out.getLong(0) == 5L)
    assert(out.getDouble(1) == -1.0)
    // regular graph (cycle): all degrees equal -> zero variance -> null
    val cycle = ((1L to 5L).map(i => (i, i % 5 + 1))).toDF("s", "d")
    assert(Graph.assortativity(cycle, "s", "d").collect()(0).isNullAt(1))
  }

  test("hits: a pure hub and a pure authority separate") {
    // 1 and 2 both point at 3 and 4; nobody points at 1/2, 3/4 point
    // nowhere: 1,2 are pure hubs, 3,4 pure authorities
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("s", "d")
    val out = Graph.hits(edges, "s", "d", iterations = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(out(1L)._1 == 0.5 && out(1L)._2 == 0.0) // hub only
    assert(out(3L)._1 == 0.0 && out(3L)._2 == 0.5) // authority only
    // L1 norms: each column sums to 1
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("hopDistance: chain distances, cap, multi-seed min, isolation") {
    // chain 1-2-3-4-5-6 plus isolated edge 8-9; seeds {1, 9}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (8L, 9L)).toDF("s", "d")
    val seeds = Seq(1L, 9L).toDF("n")
    val out = Graph.hopDistance(edges, "s", "d", seeds, "n", maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 0, 9L -> 0, 2L -> 1, 8L -> 1,
      3L -> 2, 4L -> 3))
    // node 5 is 4 hops away: absent under the cap
    assert(!out.contains(5L) && !out.contains(6L))
    // a seed on a cycle keeps distance 0 (no self-overwrite)
    val cyc = Graph.hopDistance(
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d"), "s", "d",
      Seq(1L).toDF("n"), "n", 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cyc == Map(1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("local clustering: K4 is all 1.0, a path is all 0, pendant mixes") {
    // K4 on {1,2,3,4} plus pendant 5-1: nodes 2,3,4 keep cc=1 (their
    // neighborhoods stay cliques); node 1 has deg 4, T=3 -> 0.5;
    // node 5 deg 1 -> 0 by convention
    val k4 = for (i <- 1L to 4L; j <- i + 1 to 4L) yield (i, j)
    val out = Graph.localClustering((k4 :+ (5L, 1L)).toDF("s", "d"),
        "s", "d").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((4L, 3L, 0.5)))
    assert(out(2L) == ((3L, 3L, 1.0)))
    assert(out(5L) == ((1L, 0L, 0.0)))
    val path = Graph.localClustering(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d"), "s", "d")
      .collect().map(_.getDouble(3))
    assert(path.forall(_ == 0.0))
  }

  test("local clustering: triangle totals agree with triangleCount") {
    val edges = (for {
      i <- 0 until 25; j <- 0 until 25
      if i != j && (i * 31 + j * 17) % 5 < 2
    } yield (i.toLong, j.toLong)).toSeq
    val perNode = Graph.localClustering(edges.toDF("s", "d"), "s", "d")
      .collect().map(_.getLong(2)).sum
    val total = Graph.triangleCount(edges.toDF("s", "d"), "s", "d")
      .head().getLong(2)
    assert(perNode == 3 * total) // each triangle counted at 3 corners
  }

  test("adamic-adar: partition-count invariance of the quantized sum") {
    val edges = (for {
      i <- 0 until 30; j <- 0 until 30
      if i != j && (i * 13 + j * 7) % 6 < 2
    } yield (i.toLong, j.toLong)).toSeq
    def run(parts: Int) =
      Graph.adamicAdar(edges.toDF("s", "d").repartition(parts), "s", "d",
          topK = 1000).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    assert(run(1).toSeq == run(17).toSeq)
  }

  test("personalized pagerank: mass conserved and decays from the seed") {
    // chain 1 -> 2 -> 3, seed {1}: teleport + dangling mass both return
    // to 1, rank decays monotonically with hop distance from the seed
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = Graph.personalizedPageRank(edges, "src", "dst",
        Seq(1L).toDF("n"), "n", iterations = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9) // seed-mass conservation
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L))
    // non-seed nodes hold rank ONLY via link flow: fully out-of-flow
    // nodes would be 0 — here every node is reachable, so all positive
    assert(pr.values.forall(_ > 0))
  }

  test("personalized pagerank: seeds = all nodes IS uniform pagerank") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    val allNodes = Seq(1L, 2L, 3L).toDF("n")
    val per = Graph.personalizedPageRank(edges, "s", "d", allNodes, "n", 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uni = Graph.pageRank(edges, "s", "d", 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(per == uni) // bit-exact: same plan arithmetic, flag all-true
  }

  test("personalized pagerank: no seed in the graph fails loudly") {
    val edges = Seq((1L, 2L)).toDF("s", "d")
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, "s", "d",
        Seq(99L).toDF("n"), "n", 3).collect()
    }
  }

  test("hitsConverged: stops at the fixed point and equals fixed-count") {
    // the hub/authority bipartite square hits its fixed point after one
    // round; converged must equal any high fixed count exactly
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("s", "d")
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val conv = toMapOf(Graph.hitsConverged(edges, "s", "d",
      tolerance = 1e-9, maxIterations = 50))
    val fixed = toMapOf(Graph.hits(edges, "s", "d", iterations = 10))
    assert(conv == fixed)
    assert(conv(1L) == (0.5, 0.0) && conv(3L) == (0.0, 0.5))
  }

  test("hitsConverged matches fixed-iteration scores within tolerance") {
    val edges = (0L until 60L).map(i => (i, (i * 7 + 3) % 31)).toDF("s", "d")
    val conv = Graph.hitsConverged(edges, "s", "d",
        tolerance = 1e-8, maxIterations = 40)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val fixed = Graph.hits(edges, "s", "d", iterations = 40)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(conv.keySet == fixed.keySet)
    conv.foreach { case (k, (h, a)) =>
      assert(math.abs(h - fixed(k)._1) < 1e-6)
      assert(math.abs(a - fixed(k)._2) < 1e-6)
    }
  }

  test("harmonicCentrality: chain distances, multi-seed sums, hop cap") {
    // chain 1-2-3-4; seed {1}: d(2)=1, d(3)=2, d(4)=3
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val one = Graph.harmonicCentrality(chain, "s", "d",
        Seq(1L).toDF("n"), "n", maxHops = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(one == Map(2L -> (1L, 1.0), 3L -> (1L, 0.5),
      4L -> (1L, 0.333333)))
    // seeds {1,4}: node 2 gets 1/1 + 1/2, node 1 gets 1/3 from seed 4
    // (its own dist-0 mark carries no mass)
    val two = Graph.harmonicCentrality(chain, "s", "d",
        Seq(1L, 4L).toDF("n"), "n", maxHops = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(two(2L) == ((2L, 1.5)) && two(3L) == ((2L, 1.5)))
    assert(two(1L) == ((1L, 0.333333)) && two(4L) == ((1L, 0.333333)))
    // cap: maxHops 2 drops node 4 entirely (no seed reaches it)
    val capped = Graph.harmonicCentrality(chain, "s", "d",
        Seq(1L).toDF("n"), "n", maxHops = 2)
      .collect().map(_.getLong(0)).toSet
    assert(capped == Set(2L, 3L))
    // a seed absent from the graph contributes nothing and emits nothing
    val ghost = Graph.harmonicCentrality(chain, "s", "d",
        Seq(1L, 99L).toDF("n"), "n", maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ghost == Map(2L -> 1.0, 3L -> 0.5, 4L -> 0.333333))
  }

  test("randomWalks: on-graph steps, hash argmin pinned, dead ends, determinism") {
    // star 1-{2,3,4} plus isolated start 9
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("s", "d")
    val starts = Seq((10L, 1L), (90L, 9L)).toDF("wid", "node")
    val out = Graph.randomWalks(edges, "s", "d", starts, "wid", "node", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byWalk = out.groupBy(_._1).map { case (w, rows) =>
      w -> rows.sortBy(_._2).map(_._3).toSeq }
    // isolated start: step 0 only
    assert(byWalk(90L) == Seq(9L))
    // connected walk runs the full length and alternates leaf <-> hub
    val w10 = byWalk(10L)
    assert(w10.length == 4 && w10.head == 1L)
    assert(w10(1) != 1L && w10(2) == 1L && w10(3) != 1L)
    // step-1 choice pinned to the md5 argmin convention (java MD5 —
    // independent of both engines)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected1 = Seq(2L, 3L, 4L).minBy(v => (h(s"10:0:1:$v"), v))
    assert(w10(1) == expected1)
    // every consecutive pair is a real edge
    val es = Set((1L, 2L), (1L, 3L), (1L, 4L)).flatMap(e => Set(e, e.swap))
    w10.sliding(2).foreach(p => assert(es((p(0), p(1)))))
    // partition-count invariance
    val rerun = Graph.randomWalks(edges.repartition(7), "s", "d",
        starts.repartition(3), "wid", "node", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.sorted.toSeq == rerun.sorted.toSeq)
    // two walks from the same node with different ids diverge by hash
    // (not asserted equal/unequal — just both valid and full-length)
    val multi = Graph.randomWalks(edges, "s", "d",
        Seq((1L, 1L), (2L, 1L)).toDF("wid", "node"), "wid", "node", 3)
      .collect().groupBy(_.getLong(0))
    assert(multi.values.forall(_.length == 4))
    // duplicated walk id fails loudly
    intercept[IllegalArgumentException] {
      Graph.randomWalks(edges, "s", "d",
        Seq((7L, 1L), (7L, 2L)).toDF("wid", "node"), "wid", "node", 2)
    }
  }

  test("labelPropagationConverged: equals fixed-count once labels settle") {
    // two K4s + bridge settle in <= 5 rounds; converged at cap 20 must
    // equal the fixed 5-round result (and NOT have run 20 edge joins —
    // proven by equality, not timing)
    val k = (s: Long) => for (i <- s to s + 3; j <- i + 1 to s + 3) yield (i, j)
    val edges = (k(1L) ++ k(11L) :+ (4L, 11L)).toDF("s", "d")
    val conv = Graph.labelPropagationConverged(edges, "s", "d", maxIterations = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fixed = Graph.labelPropagation(edges, "s", "d", iterations = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(conv == fixed)
  }

  test("modularity: hand-computed two-clique value, degenerate partitions") {
    // two K4s + bridge: m = 13; each clique has 6 intra edges and
    // degree sum 13 -> Q_c = 6/13 - (13/26)^2 per clique
    val k = (s: Long) => for (i <- s to s + 3; j <- i + 1 to s + 3) yield (i, j)
    val edges = (k(1L) ++ k(11L) :+ (4L, 11L)).toDF("s", "d")
    val labels = ((1L to 4L).map(n => (n, 1L)) ++
      (11L to 14L).map(n => (n, 11L))).toDF("node", "community")
    val out = Graph.modularity(edges, "s", "d", labels, "node", "community")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def r6(x: Double) =
      if (x >= 0) math.floor(x * 1e6 + 0.5) / 1e6
      else -math.floor(-x * 1e6 + 0.5) / 1e6
    val qc = r6(6.0 / 13.0 - (13.0 / 26.0) * (13.0 / 26.0))
    assert(out(1L) == ((4L, 6L, 13L, qc)), s"got ${out(1L)}")
    assert(out(11L) == ((4L, 6L, 13L, qc)))
    val q = out.values.map(_._4).sum
    assert(q > 0.3 && q <= 1.0) // real community structure
    // everything-in-one-community: e_c = m, d_c = 2m -> Q = 0 exactly
    val one = labels.withColumn("community",
      org.apache.spark.sql.functions.lit(99L))
    val qOne = Graph.modularity(edges, "s", "d", one, "node", "community")
      .collect()
    assert(qOne.length == 1 && qOne(0).getDouble(4) == 0.0)
    // singletons: no intra edges -> every contribution strictly negative
    val singles = labels.withColumn("community",
      org.apache.spark.sql.functions.col("node"))
    val qS = Graph.modularity(edges, "s", "d", singles, "node", "community")
      .collect()
    assert(qS.forall(r => r.getLong(2) == 0L && r.getDouble(4) < 0.0))
    assert(qS.map(_.getDouble(4)).sum >= -0.5) // Newman lower bound
    // a partial labeling (node 14 missing) fails loudly
    val e = intercept[IllegalArgumentException] {
      Graph.modularity(edges, "s", "d",
        labels.filter(org.apache.spark.sql.functions.col("node") =!= 14L),
        "node", "community")
    }
    assert(e.getMessage.contains("missing from the label frame"))
  }

  test("labelPropagationModularityStopped: finds the planted partition") {
    // two K5s + bridge — strong planted structure; the Q-stopped run
    // must land on the two cliques and beat the singleton baseline
    val k = (s: Long) => for (i <- s to s + 4; j <- i + 1 to s + 4) yield (i, j)
    val edges = (k(1L) ++ k(11L) :+ (5L, 11L)).toDF("s", "d")
    val out = Graph.labelPropagationModularityStopped(edges, "s", "d",
        maxIterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).map(out).toSet.size == 1)
    assert((11L to 15L).map(out).toSet.size == 1)
    assert(out(1L) != out(11L), s"cliques merged: $out")
    // and the returned labeling scores the hand-computable Q
    val labels = out.toSeq.toDF("node", "community")
    val q = Graph.modularity(edges, "s", "d", labels, "node", "community")
      .collect().map(_.getDouble(4)).sum
    // m = 21, per clique: intra 10, degree sum 21 -> 10/21 - 0.25 each
    assert(math.abs(q - 2.0 * (10.0 / 21.0 - 0.25)) < 1e-5, s"Q $q")
  }

  test("weightedDistances: min-plus detour, hop cap, multi-edge, guards") {
    // triangle 1-2 (w=1), 2-3 (w=1), 1-3 (w=5): the 2-hop detour beats
    // the direct heavy edge
    val tri = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0))
      .toDF("s", "d", "w")
    val seeds = Seq(1L).toDF("k")
    def distsOf(e: org.apache.spark.sql.DataFrame, hops: Int) =
      Graph.weightedDistances(e, "s", "d", "w", seeds, "k", hops)
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val full = distsOf(tri, 4)
    assert(full == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
    // hop cap 1: only direct edges reachable
    assert(distsOf(tri, 1) == Map(1L -> 0.0, 2L -> 1.0, 3L -> 5.0))
    // multi-edge collapses to its minimum weight
    val multi = tri.unionAll(Seq((2L, 1L, 0.25)).toDF("s", "d", "w"))
    assert(distsOf(multi, 4)(2L) == 0.25)
    // weight guards: non-positive, null, NaN all fail loudly
    for (bad <- Seq(0.0, -1.0, Double.NaN)) {
      intercept[IllegalArgumentException] {
        Graph.weightedDistances(
          Seq((1L, 2L, bad)).toDF("s", "d", "w"), "s", "d", "w",
          seeds, "k", 2)
      }
    }
  }

  test("weightedDistances: triangle inequality and hop parity on a " +
    "hashed graph") {
    val edges = (for {
      i <- 0L until 15L; j <- i + 1 until 15L
      if (i * 17 + j * 13) % 5 < 2
    } yield (i, j, ((i + j) % 4 + 1).toDouble)).toDF("s", "d", "w")
    val seeds = Seq(0L, 7L).toDF("k")
    val out = Graph.weightedDistances(edges, "s", "d", "w", seeds, "k", 14)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // converged distances satisfy d(s,v) <= d(s,u) + w(u,v) on every
    // edge, both directions
    val es = edges.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for (s <- Seq(0L, 7L); (u, v, w) <- es) {
      (out.get((s, u)), out.get((s, v))) match {
        case (Some(du), Some(dv)) =>
          assert(dv <= du + w + 1e-9, s"d($s,$v)=$dv > d($s,$u)+$w")
          assert(du <= dv + w + 1e-9)
        case _ => // unreached under the cap — no constraint
      }
    }
    // unit weights reduce to hop distances
    val unit = edges.withColumn("w",
      org.apache.spark.sql.functions.lit(1.0))
    val wd = Graph.weightedDistances(unit, "s", "d", "w", seeds, "k", 14)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val hd = Graph.hopDistance(edges, "s", "d", seeds, "k", 14)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // hopDistance is multi-seed-min; compare against min over seeds
    for ((n, d) <- hd) {
      val best = Seq(0L, 7L).flatMap(s => wd.get((s, n))).min
      assert(best == d.toDouble, s"node $n: weighted $best vs hops $d")
    }
  }

  test("kTruss: clique survives, tails and bridges peel, cascades run") {
    // K5 on 1-5 + tail 5-6-7 + pendant 1-8: the 5-truss is exactly K5
    // (every K5 edge closes 3 triangles); tail/pendant edges close none
    val k5 = for (i <- 1L to 5L; j <- i + 1 to 5L) yield (i, j)
    val edges = (k5 ++ Seq((5L, 6L), (6L, 7L), (1L, 8L))).toDF("s", "d")
    val out = Graph.kTruss(edges, "s", "d", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out.keySet == k5.toSet, s"got ${out.keySet}")
    assert(out.values.forall(_ == 3L)) // support inside the truss
    // k = 2: every edge is trivially a 2-truss (support >= 0)
    val all = Graph.kTruss(edges, "s", "d", k = 2).collect()
    assert(all.length == k5.size + 3)
    // cascade: two triangles sharing an edge — a 4-truss needs every
    // edge in 2 triangles; only the shared edge has 2, so removing the
    // outer edges cascades the rest away (empty 4-truss)
    val twoTri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s", "d")
    assert(Graph.kTruss(twoTri, "s", "d", k = 4).collect().isEmpty)
    // and the 3-truss of the same graph keeps all five edges (each in
    // >= 1 triangle)
    assert(Graph.kTruss(twoTri, "s", "d", k = 3).collect().length == 5)
    // unconverged cap fails loudly (the cascade needs > 1 round)
    intercept[IllegalArgumentException] {
      Graph.kTruss(twoTri, "s", "d", k = 4, maxRounds = 1)
    }
    // truss-inside-core law on a hashed graph: every 4-truss edge
    // endpoint sits in the 3-core
    val hashed = (for {
      i <- 0L until 20L; j <- i + 1 until 20L
      if (i * 13 + j * 17) % 4 == 0
    } yield (i, j)).toDF("s", "d")
    val truss = Graph.kTruss(hashed, "s", "d", k = 4).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val core = Graph.kCore(hashed, "s", "d", k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(truss.subsetOf(core), s"truss $truss not inside core $core")
  }

  test("betweennessDependency: path, diamond, star hand values") {
    // path 1-2-3, seed 1: node 2 carries the 1->3 path (δ=1), 3 none
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val p = Graph.betweennessDependency(path, "s", "d",
        Seq(1L).toDF("k"), "k", maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(p == Map(2L -> 1.0, 3L -> 0.0))
    // diamond 1-2, 1-3, 2-4, 3-4, seed 1: two shortest paths to 4
    // split the credit — δ(2) = δ(3) = 0.5
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("s", "d")
    val dm = Graph.betweennessDependency(diamond, "s", "d",
        Seq(1L).toDF("k"), "k", maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(dm == Map(2L -> 0.5, 3L -> 0.5, 4L -> 0.0))
    // star, seeds = all nodes: center dependency = k(k-1) (2x the
    // C(k,2) pair betweenness — both endpoints source each pair)
    val star = (1L to 5L).map(l => (0L, l)).toDF("s", "d")
    val st = Graph.betweennessDependency(star, "s", "d",
        (0L to 5L).toDF("k"), "k", maxHops = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(st(0L)._2 == 20.0, s"center ${st(0L)}") // 5*4
    (1L to 5L).foreach(l => assert(st(l)._2 == 0.0))
    // every node is reached by all 6 seeds but scored from 5 (its own
    // source row is excluded)
    assert(st.values.forall(_._1 == 5L))
  }

  test("betweennessDependency: matches naive Brandes with all sources") {
    val edgeSeq = (for {
      i <- 0L until 12L; j <- i + 1 until 12L
      if (i * 19 + j * 7) % 5 < 2
    } yield (i, j)).toSeq
    val nodes = edgeSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val adj = nodes.map(n => n -> edgeSeq.collect {
      case (a, b) if a == n => b
      case (a, b) if b == n => a
    }.distinct.sorted).toMap
    // naive Brandes: BFS + backward dependency per source
    val naive = scala.collection.mutable.Map.empty[Long, Double]
      .withDefaultValue(0.0)
    for (s <- nodes) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1.0)
        .withDefaultValue(0.0)
      val order = scala.collection.mutable.ArrayBuffer(s)
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        for (v <- adj(u)) {
          if (!dist.contains(v)) {
            dist(v) = dist(u) + 1; queue.enqueue(v); order += v
          }
          if (dist(v) == dist(u) + 1) sigma(v) += sigma(u)
        }
      }
      val delta = scala.collection.mutable.Map.empty[Long, Double]
        .withDefaultValue(0.0)
      for (w <- order.reverse; v <- adj(w)
           if dist.get(v).contains(dist(w) - 1)) {
        delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
      }
      for (v <- order if v != s) naive(v) += delta(v)
    }
    val got = Graph.betweennessDependency(edgeSeq.toDF("s", "d"), "s",
        "d", nodes.toDF("k"), "k", maxHops = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for (n <- nodes) {
      assert(math.abs(got.getOrElse(n, 0.0) - naive(n)) < 1e-6,
        s"node $n: ${got.getOrElse(n, 0.0)} vs naive ${naive(n)}")
    }
  }
}
