package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.algos.{GraphOps, MinimumSpanningForest}
import graft.core.LinkGraph

class MsfGraphOpsSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  lazy val edgesDf = LinkGraph.edges(spark, TestSessions.Sf0001).cache()

  /** Kruskal oracle: total MSF weight (forest over dedup'd undirected edges). */
  private def kruskalWeight(edges: Seq[(Long, Long, Double)]): (Double, Int) = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2), e._3))
      .groupBy(e => (e._1, e._2)).map(_._2.minBy(_._3)).toSeq
      .sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    var w = 0.0
    var n = 0
    und.foreach { case (u, v, wt) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(math.max(ru, rv)) = math.min(ru, rv); w += wt; n += 1 }
    }
    (w, n)
  }

  test("Boruvka MSF matches Kruskal total weight and edge count") {
    val pairs = edgesDf.select("src", "dst", "weight")
      .as[(Long, Long, Double)].collect().toSeq
    val (wantW, wantN) = kruskalWeight(pairs)
    val forest = MinimumSpanningForest.run(spark, edgesDf)
      .as[(Long, Long, Double)].collect()
    assert(forest.length == wantN,
      s"forest has ${forest.length} edges, want $wantN")
    assert(math.abs(forest.map(_._3).sum - wantW) < 1e-6)
    // acyclic: edge count per CC invariant — edges == vertices - components
    val verts = forest.flatMap(e => Seq(e._1, e._2)).distinct.length
    val comps = GraphOracles.connectedComponents(
      forest.map(e => (e._1, e._2)).toSeq).values.toSet.size
    assert(forest.length == verts - comps)
  }

  test("bond percolation: p=1 gives CC, p=0 gives singletons, monotone") {
    val full = GraphOps.bondPercolation(spark, edgesDf, p = 1.1)
      .as[(Long, Long)].collect().toMap
    val cc = graft.algos.ConnectedComponents.components(spark, edgesDf)
      .as[(Long, Long)].collect().toMap
    assert(full == cc)
    val none = GraphOps.bondPercolation(spark, edgesDf, p = 0.0)
      .as[(Long, Long)].collect()
    assert(none.forall { case (id, l) => id == l })
    val mid = GraphOps.bondPercolation(spark, edgesDf, p = 0.5)
      .as[(Long, Long)].collect().toMap
    def nComp(m: Map[Long, Long]) = m.values.toSet.size
    assert(nComp(full) <= nComp(mid) && nComp(mid) <= none.length)
  }

  test("k-hop subgraph: hop-0 has only seed-internal edges, grows with k") {
    val seeds = Seq(LinkGraph.REGION + 0L).toDF("id")
    val h1 = GraphOps.kHopSubgraph(spark, edgesDf, seeds, 1).count()
    val h2 = GraphOps.kHopSubgraph(spark, edgesDf, seeds, 2).count()
    val h9 = GraphOps.kHopSubgraph(spark, edgesDf, seeds, 9).count()
    assert(h1 <= h2 && h2 <= h9)
    assert(h9 > 0)
  }

  test("degree distribution sums to vertex count") {
    val dd = GraphOps.degreeDistribution(edgesDf)
      .as[(Long, Long)].collect()
    assert(dd.map(_._2).sum == LinkGraph.vertices(edgesDf).count())
  }

  test("seeded LPA: seeds stay frozen, labels spread to the whole component") {
    // labels flow along out-edges (in-neighbor gather), so seed customers —
    // they reach orders → parts → suppliers → nations → regions
    val c1 = LinkGraph.CUST + 1L
    val c2 = LinkGraph.CUST + 2L
    val seeds = Seq((c1, 100L), (c2, 200L)).toDF("id", "label")
    val out = GraphOps.seededLabelPropagation(spark, edgesDf, seeds,
      iters = 12)
      .select("id", "label").as[(Long, Long)].collect().toMap
    assert(out(c1) == 100L && out(c2) == 200L)
    assert(out.values.toSet.subsetOf(Set(100L, 200L)))
    // the propagation reaches well beyond the seeds
    assert(out.size > 20, s"only ${out.size} vertices labeled")
  }
}
