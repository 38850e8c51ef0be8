package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.Neighborhood

class NeighborhoodSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private def cycleEdges(n: Int) =
    (0L until n.toLong).map(i => (i, (i + 1) % n, 1.0))
      .toDF("src", "dst", "weight")

  test("landmarkBalls is exact on a path graph (hand-checked)") {
    // 1-2-3-4-5 path; balls grow by one hop per t until the ends clip them
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0))
      .toDF("src", "dst", "weight")
    val got = Neighborhood.landmarkBalls(spark, e,
        Seq(1L, 3L).toDF("id"), maxT = 2)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val want = Map(
      (1L, 0L) -> 1L, (1L, 1L) -> 2L, (1L, 2L) -> 3L,
      (3L, 0L) -> 1L, (3L, 1L) -> 3L, (3L, 2L) -> 5L)
    assert(got == want)
  }

  test("landmarkBalls fills all t rows when BFS exhausts early") {
    val e = Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight")
    val got = Neighborhood.landmarkBalls(spark, e, Seq(1L).toDF("id"), maxT = 3)
      .as[(Long, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(got == Map(0L -> 1L, 1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  /** One register merge written with builtins only (posexplode →
    * per-register max → re-assemble): m× the shuffle rows of
    * [[Neighborhood.regMaxUdaf]], and its reference here.
    */
  private def mergeViaExplode(withMsgs: DataFrame): DataFrame =
    withMsgs.select(col("id"), posexplode(col("regs")).as(Seq("j", "r")))
      .groupBy("id", "j").agg(max("r").as("r"))
      .groupBy("id").agg(
        transform(array_sort(collect_list(struct(col("j"), col("r")))),
          s => s.getField("r")).as("regs"))

  test("Aggregator register merge is row-identical to the explode merge") {
    val rows = Seq(
      (1L, Array(1, 0, 3, 2)), (2L, Array(0, 5, 1, 0)), (3L, Array(2, 2, 2, 2)),
      (1L, Array(0, 7, 0, 0)), (2L, Array(1, 1, 1, 1)), (1L, Array(2, 0, 0, 9)))
      .toDF("id", "regs")
    val rm = Neighborhood.regMaxUdaf(spark, 4)
    val viaAgg = rows.groupBy("id").agg(rm(col("regs")).as("regs"))
      .as[(Long, Seq[Int])].collect().map(r => r._1 -> r._2).toMap
    val viaExp = mergeViaExplode(rows)
      .as[(Long, Seq[Int])].collect().map(r => r._1 -> r._2).toMap
    assert(viaAgg == viaExp)
    assert(viaAgg(1L) == Seq(2, 7, 3, 9))
  }

  test("hyperBall matches the analytic neighborhood function of a cycle") {
    // C_2000: ball(v, t) = 2t+1, so N(t) = n(2t+1) exactly; balls are tiny,
    // exercising the linear-counting branch of the estimator
    val n = 2000
    val nf = Neighborhood.hyperBall(spark, cycleEdges(n), logM = 8, maxT = 3)
      .as[(Int, Double)].collect().toMap
    for (t <- 0 to 3) {
      val exact = n.toDouble * (2 * t + 1)
      val err = math.abs(nf(t) - exact) / exact
      assert(err < 0.05, s"t=$t est=${nf(t)} exact=$exact err=$err")
    }
  }

  test("hyperBall matches the analytic neighborhood function of a clique") {
    // K_1200: ball(v, 1) = n for every v, so N(1) = n² — large enough at
    // m=256 (2.5m = 640 < 1200) to exercise the raw-HLL branch
    val n = 1200
    val ids = spark.range(0, n).toDF("src")
    val e = ids.crossJoin(spark.range(0, n).toDF("dst"))
      .filter(col("src") < col("dst")).withColumn("weight", lit(1.0))
    val nf = Neighborhood.hyperBall(spark, e, logM = 8, maxT = 1)
      .as[(Int, Double)].collect().toMap
    val exact0 = n.toDouble
    val exact1 = n.toDouble * n
    assert(math.abs(nf(0) - exact0) / exact0 < 0.05,
      s"t=0 est=${nf(0)} exact=$exact0")
    assert(math.abs(nf(1) - exact1) / exact1 < 0.15,
      s"t=1 est=${nf(1)} exact=$exact1")
  }

  test("harmonicExactX matches hand-computed path-graph centralities") {
    // P_5 = 1-2-3-4-5, maxT=2, lcm(1,2)=2: c_x2 = 2·|dist1| + 1·|dist2|
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0))
      .toDF("src", "dst", "weight")
    val balls = Neighborhood.landmarkBalls(spark, e,
      Seq(1L, 2L, 3L).toDF("id"), maxT = 2)
    val got = Neighborhood.harmonicExactX(balls, maxT = 2)
      .as[(Long, Long)].collect().toMap
    // c(1): d1={2}, d2={3} → 2+1 = 3;  c(2): d1={1,3}, d2={4} → 4+1 = 5
    // c(3): d1={2,4}, d2={1,5} → 4+2 = 6
    assert(got == Map(1L -> 3L, 2L -> 5L, 3L -> 6L))
  }

  test("hyperBall tracks exact landmark-average ball growth on the link graph") {
    // cross-check on the real sf0.001 graph: hyperBall's N(t)/N(0) growth
    // profile vs the EXACT all-vertex neighborhood function at t <= 2
    val e = graft.core.LinkGraph.edges(spark, TestSessions.Sf0001)
    val verts = graft.core.LinkGraph.vertices(e)
    val exact = Neighborhood.landmarkBalls(spark, e, verts, maxT = 2)
      .groupBy("t").agg(sum("n_reached").as("nf"))
      .as[(Long, Long)].collect().toMap
    val est = Neighborhood.hyperBall(spark, e, logM = 8, maxT = 2)
      .as[(Int, Double)].collect().toMap
    for (t <- 0 to 2) {
      val ex = exact(t.toLong).toDouble
      val err = math.abs(est(t) - ex) / ex
      assert(err < 0.15, s"t=$t est=${est(t)} exact=$ex err=$err")
    }
  }
}
