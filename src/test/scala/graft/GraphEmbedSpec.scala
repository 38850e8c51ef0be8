package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.algos.GraphEmbed

/** NetMF-style embedding pipeline: hand-checked co-occurrence/PPMI
  * counts, and community geometry on a planted two-clique graph.
  */
class GraphEmbedSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  test("cooccurrence: window-1 skip-gram pairs, both directions") {
    // one walk a(1) b(2) c(3) b(4)
    val corpus = Seq((1L, 1, 10L), (1L, 2, 20L), (1L, 3, 30L), (1L, 4, 20L))
      .toDF("walk_id", "step", "vertex")
    val got = GraphEmbed.cooccurrence(corpus, window = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((10L, 20L) -> 1L, (20L, 10L) -> 1L,
      (20L, 30L) -> 2L, (30L, 20L) -> 2L))
  }

  test("ppmiParts: integer marginals and grand total") {
    val cooc = Seq((10L, 20L, 3L), (10L, 30L, 1L), (20L, 10L, 4L))
      .toDF("u", "v", "n_uv")
    val rows = GraphEmbed.ppmiParts(cooc).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rows((10L, 20L)) == ((3L, 4L, 3L, 8L))) // n_u=3+1, n_v=3, T=8
    assert(rows((10L, 30L)) == ((1L, 4L, 1L, 8L)))
    assert(rows((20L, 10L)) == ((4L, 4L, 4L, 8L)))
  }

  test("embeddings separate planted communities (two cliques + bridge)") {
    val cliqueA = 0L until 8L
    val cliqueB = 100L until 108L
    def cliqueEdges(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a != b) yield (a, b)
    val edges = (cliqueEdges(cliqueA) ++ cliqueEdges(cliqueB) ++
      Seq((7L, 100L), (100L, 7L))).toDF("src", "dst")
    val sources = (cliqueA ++ cliqueB).toDF("id")
    val emb = GraphEmbed.embeddings(spark, edges, sources,
        walksPerSource = 10, steps = 5, window = 2, dim = 2, maxVocab = 16)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray.map(_.toDouble)).toMap
    assert(emb.size == 16, s"one embedding per vertex: ${emb.keys}")

    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def meanCos(xs: Seq[Long], ys: Seq[Long]) = {
      val cs = for (x <- xs; y <- ys if x != y) yield cos(emb(x), emb(y))
      cs.sum / cs.size
    }
    val intra = (meanCos(cliqueA, cliqueA) + meanCos(cliqueB, cliqueB)) / 2
    val inter = meanCos(cliqueA, cliqueB)
    info(f"intra=$intra%.3f inter=$inter%.3f")
    assert(intra > inter + 0.3,
      f"clique members must embed closer: intra=$intra%.3f inter=$inter%.3f")
  }
}
