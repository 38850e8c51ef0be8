package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.LinkGraph
import graft.algos.{KCores, RandomWalks}

class MoreAlgosSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  lazy val edgesDf = LinkGraph.edges(spark, TestSessions.Sf0001).cache()
  lazy val edgePairs: Seq[(Long, Long)] =
    edgesDf.select("src", "dst").as[(Long, Long)].collect().toSeq

  /** Plain-Scala k-core peeling oracle. */
  private def corenessOracle(edges: Seq[(Long, Long)]): Map[Long, Int] = {
    val und = (edges ++ edges.map(_.swap)).distinct
    var nbrs = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val core = scala.collection.mutable.Map.empty[Long, Int]
    nbrs.keys.foreach(core(_) = 0)
    var k = 1
    while (nbrs.nonEmpty) {
      var changed = true
      while (changed) {
        val drop = nbrs.filter(_._2.size < k).keySet
        changed = drop.nonEmpty
        if (changed)
          nbrs = nbrs.view.filterKeys(!drop.contains(_))
            .mapValues(_ -- drop).toMap.filter(_._2.nonEmpty)
      }
      nbrs.keys.foreach(core(_) = k)
      k += 1
    }
    core.toMap
  }

  test("k-core coreness matches the peeling oracle") {
    val got = KCores.coreness(spark, edgesDf)
      .as[(Long, Long)].collect().toMap
    val want = corenessOracle(edgePairs)
    // both sides list exactly the vertices with degree >= 1 (the engine's
    // documented output contract: state is seeded from edge endpoints)
    val wantFull = got.keySet.map(id => id -> want.getOrElse(id, 0).toLong).toMap
    assert(got == wantFull)
    assert(got.values.max >= 2, "graph should have a non-trivial core")
  }

  test("k-core frontier collapses across rounds") {
    val res = KCores.run(spark, edgesDf)
    val nV = res.state.count()
    val rounds = res.metrics.map(_.active)
    assert(rounds.nonEmpty && rounds.last == 0L,
      s"fixpoint not reached: $rounds")
    // after the first h-pass the recompute frontier must be a strict
    // minority of the graph — the delta iteration actually prunes
    assert(rounds.drop(1).forall(_ < nV), s"frontier never shrank: $rounds")
  }

  test("random walks: deterministic, bounded, land on real vertices") {
    val sources = edgesDf.select(col("src").as("id")).distinct().limit(20)
    val a = RandomWalks.visitCounts(spark, edgesDf, sources, 10, 5)
      .as[(Long, Long)].collect().toMap
    val b = RandomWalks.visitCounts(spark, edgesDf, sources, 10, 5)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a.values.sum <= 20L * 10 * 5)
    assert(a.nonEmpty)
    val vertices = edgePairs.flatMap(e => Seq(e._1, e._2)).toSet
    assert(a.keySet.subsetOf(vertices))
  }

  test("random walks from a sink vertex produce no visits") {
    // region vertices have no out-edges in the link graph
    val sinks = edgesDf.select(col("dst").as("id"))
      .filter(col("dst") < LinkGraph.NATION).distinct()
    val v = RandomWalks.visitCounts(spark, edgesDf, sinks, 5, 3)
    assert(v.isEmpty || v.count() == 0)
  }

  test("random walks survive a 1e5-degree hot vertex (no adjacency arrays)") {
    // star: vertex 0 -> 1..100000, spokes loop back to 0; walks from 0
    // bounce 0 -> spoke -> 0 -> spoke ... The indexed-edge-join design
    // keeps the hot vertex as ordinary rows (VERDICT r1 scale-killer fix).
    val n = 100000L
    val star = spark.range(1, n + 1)
      .select(lit(0L).as("src"), col("id").as("dst"), lit(1.0).as("weight"))
    val back = spark.range(1, n + 1)
      .select(col("id").as("src"), lit(0L).as("dst"), lit(1.0).as("weight"))
    val hot = star.unionAll(back)
    val visits = RandomWalks
      .visitCounts(spark, hot, Seq(0L).toDF("id"), walksPerSource = 40,
        steps = 4)
      .as[(Long, Long)].collect().toMap
    // every walk survives all 4 steps (no dead ends): 40 walks * 4 hops
    assert(visits.values.sum == 160L)
    // even steps land on the hub
    assert(visits(0L) == 80L)
    // odd steps land on spokes, chosen by hash -> many distinct spokes
    assert(visits.keySet.count(_ > 0) > 10)
  }

  test("sssp matches a local Dijkstra on the weighted link graph") {
    val src = LinkGraph.CUST + 1L
    val wEdges = edgesDf.select("src", "dst", "weight")
      .as[(Long, Long, Double)].collect().toSeq
    val got = graft.algos.GraphOps.sssp(spark, edgesDf, src)
      .as[(Long, Double)].collect().toMap
    // local Dijkstra (directed, positive weights)
    val adj = wEdges.groupBy(_._1)
      .map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
    val dist = scala.collection.mutable.Map(src -> 0.0)
    val pq = scala.collection.mutable.PriorityQueue((0.0, src))(
      Ordering.by(-_._1))
    val settled = scala.collection.mutable.Set.empty[Long]
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (!settled(u)) {
        settled += u
        adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (d + w < dist.getOrElse(v, Double.MaxValue)) {
            dist(v) = d + w; pq.enqueue((d + w, v))
          }
        }
      }
    }
    assert(got.keySet == dist.keySet)
    assert(got.forall { case (v, d) => d == dist(v) },
      "synchronous relaxation must reach the exact Dijkstra fixpoint")
    assert(got.size > 1 && got(src) == 0.0)
  }

  test("node2vec walks: valid edges, full length, p/q bias steers the walk") {
    // 4-cycle in both directions: from any (prev, cur) state exactly two
    // candidates — return (weight q·1 after scaling) and forward (weight p,
    // since the 2-hop endpoint is never prev's neighbor in a 4-cycle)
    val ring = (0L to 3L).flatMap { i =>
      val j = (i + 1) % 4
      Seq((i, j), (j, i))
    }
    val edges = ring.toDF("src", "dst").withColumn("weight", lit(1.0))
    val srcs = Seq(0L, 1L, 2L, 3L).toDF("id")
    def run(p: Int, q: Int) = graft.algos.RandomWalks
      .node2vecWalks(spark, edges, srcs, walksPerSource = 50, steps = 4,
        p = p, q = q)
      .as[(Long, Int, Long)].collect().toSeq
    val explore = run(p = 1000, q = 1) // α(return) = 1/1000: keep moving
    val retreat = run(p = 1, q = 1000) // α(explore) = 1/1000: bounce back
    // validity: every hop follows a real edge, every walk runs full length
    // (the bidirectional ring has no dead ends)
    val edgeSet = ring.toSet
    def hops(c: Seq[(Long, Int, Long)]): Seq[(Long, Long)] = c
      .groupBy(_._1).values.flatMap { w =>
        val byStep = w.sortBy(_._2)
        assert(byStep.map(_._2) == (1 to byStep.size), s"gapped steps: $w")
        assert(byStep.size == 4)
        val src = byStep.head._1 / 50 // walk_id = source*50 + rep
        (src +: byStep.map(_._3)).sliding(2).map(s => (s(0), s(1))).toSeq
      }.toSeq
    val eh = hops(explore)
    assert(eh.forall(edgeSet.contains))
    // bias: count immediate backtracks (v -> u -> v) among 2nd..4th hops
    def backtracks(c: Seq[(Long, Int, Long)]): Int = c.groupBy(_._1).values
      .map { w =>
        val vs = w.sortBy(_._2).map(_._3)
        val src = w.head._1 / 50
        val path = src +: vs
        (2 until path.size).count(i => path(i) == path(i - 2))
      }.sum
    val bE = backtracks(explore)
    val bR = backtracks(retreat)
    // 200 walks × 3 biased hops = 600 decisions each; α-ratio 1000:1 means
    // near-none vs near-all
    assert(bE < 30, s"explore-biased walks backtracked $bE/600")
    assert(bR > 570, s"return-biased walks backtracked only $bR/600")
    // determinism
    assert(run(1000, 1) == explore)
  }

  test("k-truss: planted clique survives, weaker structures peel away") {
    // K5 on 0..4 (every edge in 3 triangles), a lone triangle 10-11-12
    // (support 1 each), a chain 20-21-22 (support 0), and a BRIDGE triangle
    // 4-10-13 that only becomes weak after the lone triangle's edges hold
    val k5 = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val extra = Seq((10L, 11L), (11L, 12L), (10L, 12L), // lone triangle
      (20L, 21L), (21L, 22L), // chain
      (4L, 10L), (4L, 13L), (10L, 13L)) // bridge triangle
    val edges = (k5 ++ extra).toDF("src", "dst")
      .withColumn("weight", lit(1.0))
    val t4 = graft.algos.TrussRecount.kTruss(spark, edges, k = 4)
      .as[(Long, Long)].collect().toSet
    assert(t4 == k5.toSet, s"4-truss should be exactly K5, got $t4")
    // k=3 keeps every triangle (each edge in >= 1 triangle of its own
    // structure) and drops only the chain
    val t3 = graft.algos.TrussRecount.kTruss(spark, edges, k = 3)
      .as[(Long, Long)].collect().toSet
    assert(t3 == (k5 ++ extra.filterNot(e => e._1 >= 20L && e._1 < 23L)).toSet)
    // directed duplicates / reversed edges canonicalize before peeling
    val doubled = edges.unionAll(
      edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
    val t4d = graft.algos.TrussRecount.kTruss(spark, doubled, k = 4)
      .as[(Long, Long)].collect().toSet
    assert(t4d == t4)
  }

  test("decremental k-truss equals the recount plan everywhere") {
    val k5 = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val extra = Seq((10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (21L, 22L),
      (4L, 10L), (4L, 13L), (10L, 13L))
    val edges = (k5 ++ extra).toDF("src", "dst")
      .withColumn("weight", lit(1.0))
    for (k <- Seq(3, 4, 5)) {
      val rec = graft.algos.TrussRecount.kTruss(spark, edges, k)
        .as[(Long, Long)].collect().toSet
      val dec = graft.algos.Truss.kTrussDecremental(spark, edges, k)
        .as[(Long, Long)].collect().toSet
      assert(dec == rec, s"k=$k: decremental != recount")
    }
    // and on the real derived link graph (multi-round peel, support > 0)
    val lg = graft.core.LinkGraph.edges(spark, TestSessions.Sf0001)
    val rec4 = graft.algos.TrussRecount.kTruss(spark, lg, k = 4)
      .as[(Long, Long)].collect().toSet
    val dec4 = graft.algos.Truss.kTrussDecremental(spark, lg, k = 4)
      .as[(Long, Long)].collect().toSet
    assert(dec4 == rec4 && rec4.nonEmpty)
  }

  test("louvain local moving recovers planted communities, deterministically") {
    import graft.algos.Louvain
    // ring of cliques: every clique is its own community, labeled min-id
    val ring = graft.core.Planted.ringOfCliques(spark, nCliques = 24, s = 5)
    val got = Louvain.localMoving(ring)
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until 120L).map(v => v -> (v / 5) * 5).toMap)
    // partitioning/row-order invariance (synchronous rounds + integer
    // scores: nothing in the result may depend on physical layout)
    val shuffled = Louvain.localMoving(
      ring.repartition(7, col("dst")).sortWithinPartitions("w"))
      .as[(Long, Long)].collect().toMap
    assert(shuffled == got)
    // two triangles bridged by one edge -> exactly two communities
    val twoTri = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L))
      .toDF("src", "dst").withColumn("w", lit(1L))
    val t = Louvain.localMoving(twoTri).as[(Long, Long)].collect().toMap
    assert(t == Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // weighted: heavy bridge (w=10) pulls the two triangles together
    val heavyBridge = Seq((0L, 1L, 1L), (1L, 2L, 1L), (0L, 2L, 1L),
      (10L, 11L, 1L), (11L, 12L, 1L), (10L, 12L, 1L), (2L, 10L, 10L))
      .toDF("src", "dst", "w")
    val h = Louvain.localMoving(heavyBridge).as[(Long, Long)].collect().toMap
    // the w=10 bridge dominates every intra-triangle tie: its endpoints
    // must land together (a local optimum may keep 3 communities total)
    assert(h(2L) == h(10L) && h.values.toSet.size < 6,
      s"heavy bridge must merge its endpoints: $h")
  }

  test("multi-level louvain contracts exactly the planted hierarchy") {
    import graft.algos.Louvain
    val g = graft.core.Planted.pairedCliques(spark, nPairs = 12, s = 6,
      wBridge = 3L)
    val n = 12 * 2 * 6
    // level 1 alone must stop at the cliques (the single bridge cannot
    // pull one vertex across: 2m(w−(s−1)) − k² < 0)...
    val flat = Louvain.localMoving(g).as[(Long, Long)].collect().toMap
    assert(flat == (0L until n).map(v => v -> (v / 6) * 6).toMap)
    // ...so only a contraction level can merge the pairs: whole cliques
    // gain across their bridge (2m·3 > k²) but not across the ring
    val full = Louvain.louvain(g).as[(Long, Long)].collect().toMap
    assert(full == (0L until n).map(v => v -> (v / 12) * 12).toMap)
    // partitioning invariance holds through contraction levels too
    val shuf = Louvain.louvain(g.repartition(9, col("src")))
      .as[(Long, Long)].collect().toMap
    assert(shuf == full)
    // contract() itself: ring-of-cliques contracted on its own labels is a
    // weighted ring of self-looped super-vertices; total weight and the
    // degree ledger (self-loop counted twice) must both be conserved
    val ring = graft.core.Planted.ringOfCliques(spark, nCliques = 6, s = 4)
    val labels = Louvain.localMoving(ring)
    val c = Louvain.contract(ring, labels)
      .as[(Long, Long, Long)].collect()
    val selfW = c.filter(e => e._1 == e._2).map(_._3).sum
    val crossW = c.filter(e => e._1 != e._2).map(_._3).sum
    assert(selfW == 6L * 6 && crossW == 6L, s"contracted ring: ${c.toSeq}")
    // a self-loop-only graph is a localMoving fixpoint (nothing can move)
    val loops = Seq((0L, 0L, 5L), (7L, 7L, 3L)).toDF("src", "dst", "w")
    val fix = Louvain.localMoving(loops).as[(Long, Long)].collect().toMap
    assert(fix == Map(0L -> 0L, 7L -> 7L))
  }

  test("modularity + assortativity: hand-computed closed forms") {
    import graft.algos.{GraphOps, Louvain}
    // two triangles + bridge, partition = the triangles: 2m = 14,
    // W_in = 6, Sigma_tot = 7 each -> Q = (14*12 - 98)/196 = 70/196
    val twoTri = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L))
      .toDF("src", "dst").withColumn("w", lit(1L))
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L),
      (10L, 10L), (11L, 10L), (12L, 10L)).toDF("id", "community")
    val (q, m2) = Louvain.modularity(twoTri, labels)
      .as[(Long, Long)].head()
    assert(m2 == 14L && q == math.floor(70.0 / 196 * 1e6 + 0.5).toLong)
    // star S3 is the textbook r = -1 graph
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L))
      .toDF("src", "dst").withColumn("weight", lit(1.0))
    val (m, r) = GraphOps.degreeAssortativity(star)
      .as[(Long, Long)].head()
    assert(m == 6L && r == -1000000L, s"star: m=$m r=$r")
    // 4-path: degree pairs over 6 directed instances give M=6, Sjk=16,
    // Sj=10, Sjj=18 -> r = (96-100)/(108-100) = -1/2 exactly
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L))
      .toDF("src", "dst").withColumn("weight", lit(1.0))
    val (mp, rp) = GraphOps.degreeAssortativity(path)
      .as[(Long, Long)].head()
    assert(mp == 6L && rp == -500000L, s"path: m=$mp r=$rp")
  }

  test("jones-plassmann coloring: proper, <= maxdeg+1 colors, invariant") {
    import graft.algos.Coloring
    val ring = graft.core.Planted.ringOfCliques(spark, nCliques = 24, s = 5)
    val cols = Coloring.jonesPlassmann(ring).as[(Long, Long)]
      .collect().toMap
    assert(cols.size == 120)
    // proper: no edge joins two same-colored vertices
    val bad = ring.select("src", "dst").as[(Long, Long)].collect()
      .filter { case (a, b) => cols(a) == cols(b) }
    assert(bad.isEmpty, s"improper edges: ${bad.take(5).toSeq}")
    // Delta+1 bound: max degree in the ring of cliques is 6
    assert(cols.values.max <= 6)
    // a 5-clique needs 5 colors, so the chromatic floor is hit
    assert(cols.values.toSet.size >= 5)
    // determinism: partitioning must not change a single color
    val cols2 = Coloring.jonesPlassmann(
      ring.repartition(7, col("dst"))).as[(Long, Long)].collect().toMap
    assert(cols2 == cols)
    // hand case: path 0-1-2 with pri(1) highest? exact colors depend on
    // the Lehmer order; assert properness + 2 colors (a path is bipartite
    // and JP's mex on a path can use at most deg+1 = 3, greedy gives 2
    // unless both neighbors of a middle vertex precede it with 0 and 1)
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val pc = Coloring.jonesPlassmann(path).as[(Long, Long)].collect().toMap
    assert(pc(0L) != pc(1L) && pc(1L) != pc(2L) && pc.values.max <= 2)
  }

  test("largest-degree-first coloring: hub-first rounds, proper, invariant") {
    import graft.algos.Coloring
    // star: the hub (unique max degree) wins round 1 outright regardless
    // of hash, every leaf's only higher-priority neighbor is then colored
    // -> exactly 2 rounds and 2 colors (random-priority JP needs up to 3:
    // leaves that hash below the hub wait a round for it)
    val star = (0L to 9L).map(l => (100L, l)).toDF("src", "dst")
    val (starDf, rounds) = Coloring.run(star, 64, 42L, largestFirst = true)
    val sc = starDf.as[(Long, Long)].collect().toMap
    assert(rounds == 2, s"star LDF rounds = $rounds")
    assert(sc(100L) == 0L && (0L to 9L).forall(sc(_) == 1L))
    // ring of cliques: proper, Delta+1 bound (max degree 5 -> <= 6
    // colors), 5-clique chromatic floor, partitioning invariance
    val ring = graft.core.Planted.ringOfCliques(spark, nCliques = 24, s = 5)
    val cols = Coloring.jonesPlassmannLdf(ring).as[(Long, Long)]
      .collect().toMap
    assert(cols.size == 120)
    val bad = ring.select("src", "dst").as[(Long, Long)].collect()
      .filter { case (a, b) => cols(a) == cols(b) }
    assert(bad.isEmpty, s"improper edges: ${bad.take(5).toSeq}")
    assert(cols.values.max <= 5 && cols.values.toSet.size >= 5)
    val cols2 = Coloring.jonesPlassmannLdf(
      ring.repartition(7, col("dst"))).as[(Long, Long)].collect().toMap
    assert(cols2 == cols)
    // the oracle unrolls 20 rounds — the engine must converge within that
    val (_, ringRounds) = Coloring.run(ring, 64, 42L, largestFirst = true)
    assert(ringRounds <= 20, s"ring LDF rounds = $ringRounds")
  }

  test("luby MIS: independent, maximal, deterministic, bounded rounds") {
    import graft.algos.Mis
    val ring = graft.core.Planted.ringOfCliques(spark, nCliques = 24, s = 5)
    val und = ring.select("src", "dst").as[(Long, Long)].collect()
      .flatMap(e => Seq(e, e.swap)).toSet
    val (misDf, rounds) = Mis.run(ring)
    val mis = misDf.as[(Long, Long)].collect().toMap
    // independence: no edge joins two MIS members
    assert(!und.exists { case (a, b) => mis.contains(a) && mis.contains(b) })
    // maximality: every non-member has a member neighbor
    val verts = und.map(_._1)
    val nbrs = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val uncovered = verts.filterNot(v =>
      mis.contains(v) || nbrs(v).exists(mis.contains))
    assert(uncovered.isEmpty, s"not maximal at: ${uncovered.take(5)}")
    // a 5-clique admits exactly one member -> |MIS| <= 24, and the ring
    // structure forces at least one member per 2 consecutive cliques
    assert(mis.size <= 24 && mis.size >= 12, s"|MIS| = ${mis.size}")
    // the oracle unrolls 12 rounds; rounds are 1-based in the output
    assert(rounds <= 12 && mis.values.max <= rounds)
    // partitioning invariance (bit-identical rounds too)
    val mis2 = Mis.luby(ring.repartition(7, col("dst")))
      .as[(Long, Long)].collect().toMap
    assert(mis2 == mis)
    // star: MIS is either {hub} or all leaves, never a mix
    val star = (0L to 9L).map(l => (100L, l)).toDF("src", "dst")
    val sm = Mis.luby(star).as[(Long, Long)].collect().toMap.keySet
    assert(sm == Set(100L) || sm == (0L to 9L).toSet)
  }

  test("link prediction: closed forms, apex cap, ln-quantization margin") {
    import graft.algos.LinkPrediction
    // 4-cycle 0-1-2-3: non-edges {0,2} and {1,3}, each with both opposite
    // corners as common neighbors (deg 2 everywhere) ->
    // cn=2, jaccard=2/(2+2-2)=1, ra=2*(1e6 DIV 2), aa=2*(1e12 DIV q6(ln 2))
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("src", "dst")
    val c = LinkPrediction.scores(cyc)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(c == Set((0L, 2L, 2L, 1000000L, 1000000L, 2885390L),
      (1L, 3L, 2L, 1000000L, 1000000L, 2885390L)))
    // apex cap: hub h(deg 4) and z(deg 2) both connect a,b; cap 3 keeps
    // only z's wedge for (a,b) -> cn=1, jaccard=1/(2+2-1), ra=1e6 DIV 2,
    // aa=1e12 DIV 693147; uncapped cn=2. The (h,z) pair itself scores via
    // its two deg-2 common neighbors a,b: cn=2, jaccard=2/(4+2-2)
    val hub = Seq((50L, 1L), (50L, 2L), (50L, 3L), (50L, 4L), (60L, 1L),
      (60L, 2L)).toDF("src", "dst")
    val capped = LinkPrediction.scores(hub, maxApexDegree = 3L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(capped == Set((1L, 2L, 1L, 333333L, 500000L, 1442695L),
      (50L, 60L, 2L, 500000L, 1000000L, 2885390L)))
    val full = LinkPrediction.scores(hub)
      .filter(col("u") === 1L && col("v") === 2L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(full == Set((1L, 2L, 2L, 1000000L, 750000L, 2164042L)))
    // partitioning invariance on the real sf0.001 graph, capped like the
    // gate query
    val g1 = LinkPrediction.scores(edgesDf, 64L, 2L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val g2 = LinkPrediction.scores(edgesDf.repartition(7, col("dst")),
      64L, 2L).as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(g1 == g2 && g1.nonEmpty)
    // the one float op: floor(ln(d)*1e6 + 0.5) sits >= 3.6e-7 from every
    // half-integer boundary for ALL degrees d <= 2e6 (cross-engine ulp
    // disagreement at this magnitude is ~2e-9 -- 100x clearance)
    var worst = 1.0
    var d = 2L
    while (d <= 2000000L) {
      val x = math.log(d.toDouble) * 1e6
      val dist = math.abs((x - math.floor(x)) - 0.5)
      if (dist < worst) worst = dist
      d += 1
    }
    assert(worst > 3.5e-7, s"ln q6 margin collapsed: $worst")
  }

  test("bounded betweenness: theta-graph hand case, Brandes-exact") {
    import graft.algos.Betweenness
    // theta graph 0-{1,2}-3 plus tail 3-4: from seed 0, σ(1)=σ(2)=1,
    // σ(3)=2, σ(4)=2; δ(3) = (2·(1e6+0))//2 = 1e6, δ(1)=δ(2) =
    // (1·(1e6+1e6))//2 = 1e6; vertex 4 gets 0 and is filtered
    val g = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst").withColumn("weight", lit(1.0))
    val seeds = Seq(0L).toDF("id")
    val got = Betweenness.bounded(spark, g, seeds, maxT = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L),
      s"got $got")
    // partitioning invariance: all-integer terms, level-synchronized sums
    val got2 = Betweenness.bounded(spark, g.repartition(5, col("dst")),
      seeds, maxT = 3).as[(Long, Long)].collect().toMap
    assert(got2 == got)
    // two seeds: adding seed 4 makes the path 4-3-{1,2}-0 contribute too;
    // from 4: σ(3)=1, σ(1)=σ(2)=1, σ(0)=2; δ(1)=δ(2)=(1·1e6)//2=500000,
    // δ(3)=(1·(1e6+5e5))//1 + (1·(1e6+5e5))//1 = 3000000
    val got3 = Betweenness.bounded(spark, g, Seq(0L, 4L).toDF("id"),
      maxT = 3).as[(Long, Long)].collect().toMap
    assert(got3 == Map(1L -> 1500000L, 2L -> 1500000L, 3L -> 4000000L),
      s"got $got3")
  }
}
