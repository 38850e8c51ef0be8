package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.algos.{ConnectedComponents, PageRank, TriangleCount}

/** Property-based checks over random small graphs (SURVEY.md §5 test plan):
  * engine results equal the plain-Scala oracles on arbitrary edge lists,
  * including the messy cases the canonical derivation never produces
  * (parallel edges after dedup, isolated stars, near-cliques).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  /** Deterministic sample of random edge lists (fixed ScalaCheck seed). */
  private def sampleGraphs(n: Int): Seq[Seq[(Long, Long)]] = {
    val gen = for {
      nv <- Gen.choose(2, 14)
      ne <- Gen.choose(1, 40)
      edges <- Gen.listOfN(ne, for {
        s <- Gen.choose(0L, nv.toLong - 1)
        d <- Gen.choose(0L, nv.toLong - 1) if s != d
      } yield (s, d))
    } yield edges.distinct
    (0 until n).flatMap { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i))
    }.filter(_.nonEmpty)
  }

  private def toDf(edges: Seq[(Long, Long)]) =
    edges.toDF("src", "dst").withColumn("weight", lit(1.0))

  test("property: CC equals union-find on random graphs") {
    for (g <- sampleGraphs(8)) {
      val got = ConnectedComponents.components(spark, toDf(g))
        .as[(Long, Long)].collect().toMap
      assert(got == GraphOracles.connectedComponents(g), s"graph: $g")
    }
  }

  test("property: triangle totals equal brute force on random graphs") {
    for (g <- sampleGraphs(8)) {
      val (want, _) = GraphOracles.triangles(g)
      val got = TriangleCount.total(spark, toDf(g)).as[Long].head()
      assert(got == want, s"graph: $g")
    }
  }

  test("property: pagerank matches oracle to 1e-6 on random graphs") {
    for (g <- sampleGraphs(5)) {
      val got = PageRank.run(spark, toDf(g), tol = 1e-8, maxIters = 300)
        .state.select("id", "rank").as[(Long, Double)].collect().toMap
      val want = GraphOracles.pageRank(g, tol = 1e-10, maxIters = 2000)
      val maxErr = got.map { case (k, v) => math.abs(v - want(k)) }.max
      assert(maxErr < 1e-6, s"maxErr=$maxErr graph: $g")
    }
  }

  test("property: pagerank rank sum identity (teleport accounting)") {
    // Σ rank = 0.15·V + 0.85·Σ rank(non-dangling): every vertex gets the
    // teleport floor and only non-dangling mass recirculates.
    for (g <- sampleGraphs(5)) {
      val ranks = PageRank.run(spark, toDf(g), tol = 1e-9, maxIters = 300)
        .state.select("id", "rank").as[(Long, Double)].collect().toMap
      val withOut = g.map(_._1).toSet
      val lhs = ranks.values.sum
      val rhs = 0.15 * ranks.size +
        0.85 * ranks.filter { case (v, _) => withOut(v) }.values.sum
      assert(math.abs(lhs - rhs) < 1e-4, s"lhs=$lhs rhs=$rhs graph: $g")
    }
  }
}
