package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.core.LinkGraph
import graft.algos.PageRank
import graft.engine.{DurableStore, LocalStore, Superstep, SuperstepMetrics}
import graft.vectors.Scan

/** Superstep driver: durable checkpointing, manifest metrics, resume. */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  test("durable store checkpoints every superstep and records metrics") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val edges = LinkGraph.edges(spark, TestSessions.Sf0001)
    val store = new DurableStore(spark, dir)
    val res = PageRank.run(spark, edges, tol = -1.0, maxIters = 3, store = store)
    assert(res.supersteps == 3)
    assert(Files.exists(java.nio.file.Path.of(dir, "state/iter=3/_SUCCESS")))
    assert(Files.exists(java.nio.file.Path.of(dir, "manifest.jsonl")))
    val manifest = Files.readAllLines(
      java.nio.file.Path.of(dir, "manifest.jsonl"))
    assert(manifest.size == 3)
    assert(res.metrics.forall(m => m.rows > 0 && m.bytes > 0))
    assert(res.metrics.forall(_.partitions.nonEmpty))
  }

  test("resume from manifest continues mid-run and reaches the same fixpoint") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val edges = LinkGraph.edges(spark, TestSessions.Sf0001)

    // phase 1: run 4 supersteps then "crash"
    PageRank.run(spark, edges, tol = -1.0, maxIters = 4,
      store = new DurableStore(spark, dir))

    // phase 2: resume with a fresh store over the same dir; convergence run
    val store2 = new DurableStore(spark, dir)
    assert(store2.resumePoint().map(_._1).contains(4))
    val resumed = PageRank.run(spark, edges, tol = 1e-6, maxIters = 200,
      store = store2)
    // resumed metrics start at superstep 5 — earlier work was not redone
    assert(resumed.metrics.head.iter == 5)

    val uninterrupted = PageRank.run(spark, edges, tol = 1e-6, maxIters = 200)
    val a = resumed.state.select("id", "rank").as[(Long, Double)].collect().toMap
    val b = uninterrupted.state.select("id", "rank").as[(Long, Double)].collect().toMap
    // the two runs may stop one superstep apart at the tol margin, so allow
    // up to ~tol deviation between their converged states
    val maxErr = a.map { case (k, v) => math.abs(v - b(k)) }.max
    assert(maxErr < 2e-6, s"resume fixpoint deviates: $maxErr")
  }

  test("delta-iteration frontier shrinks for connected components") {
    val edges = LinkGraph.edges(spark, TestSessions.Sf0001)
    val res = graft.algos.ConnectedComponents.run(spark, edges)
    val actives = res.metrics.map(_.active)
    assert(actives.last == 0, "must converge to an empty frontier")
    // frontier collapses: the final round has far fewer active vertices
    // than the peak (delta iteration actually prunes work)
    assert(actives.max > actives.dropRight(1).last)
  }

  test("property: the convergence fold equals the Column aggregate") {
    val special = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, 1e-6, -3.5)
    val deltaGen: Gen[Option[Double]] = Gen.frequency(
      3 -> Gen.oneOf(special).map(Some(_)),
      3 -> Gen.choose(-2.0, 2.0).map(Some(_)),
      1 -> Gen.const(None))
    val stateGen = Gen.choose(0, 12).flatMap(Gen.listOfN(_, deltaGen))
    val tolGen = Gen.oneOf(Gen.const(0.0), Gen.const(-0.0),
      Gen.choose(1e-9, 2.0), Gen.choose(-2.0, -1e-9))
    val caseGen = for {
      tol <- tolGen
      states <- Gen.listOfN(4, stateGen)
    } yield (tol, states)
    val nan = List(Some(Double.NaN), Some(1.0), None)
    val cases = (0 until 24).flatMap(i =>
      caseGen(Gen.Parameters.default, Seed(1000L + i))) ++ Seq(
      (0.0, List(Nil, Nil, Nil)),                  // empty: (0.0, 0, 0)
      (-1.0, List(Nil, Nil, Nil)),
      (Double.MaxValue, List(nan, nan, nan, nan)), // a NaN max never converges
      (Double.PositiveInfinity, List(nan, nan, nan)))

    for ((tol, states) <- cases) {
      val frames = states.map(ds =>
        ds.zipWithIndex.map { case (d, i) => (i.toLong, d) }
          .toDF("id", "delta").repartition(3))
      // a step that ignores its state: with no scan of the state in its
      // plan there is no template to rerun, so it is called every superstep
      var calls = 0
      val res = Superstep.run(frames.head, _ => { calls += 1; frames(calls) },
        tol, frames.size - 1, new LocalStore)
      assert(calls == res.supersteps)
      val want = frames.tail.map(ColumnStats(_, tol))
      val stop = want.indexWhere(_._1 <= tol)
      val what = s"tol $tol, states $states"
      assert(res.supersteps == (if (stop < 0) want.size else stop + 1), what)
      assert(res.converged == stop >= 0, what)
      for ((m, (delta, active, rows)) <- res.metrics.zip(want))
        assert(Scan.orderKey(m.delta) == Scan.orderKey(delta) &&
          m.active == active && m.rows == rows, s"$what: $m")
      if (states.head.isEmpty) {
        val m = res.metrics.head
        assert((m.delta, m.active, m.rows) == ((0.0, 0L, 0L)), what)
      }
      if (states.head eq nan)
        assert(!res.converged && res.supersteps == states.size - 1, what)
    }
  }

  test("a non-finite delta is written to the manifest as null and resumes") {
    val dir = Files.createTempDirectory("graft-nan").toString
    val init = Seq((1L, Double.NaN), (2L, Double.PositiveInfinity), (3L, 0.5))
      .toDF("id", "delta")
    def step(state: DataFrame): DataFrame =
      state.select(col("id"), (col("delta") * 2).as("delta"))
    val first = Superstep.run(init, step, 0.0, 2, new DurableStore(spark, dir))
    assert(!first.converged && first.metrics.forall(_.delta.isNaN))

    // Jackson's parser rejects a bare NaN or Infinity
    val json = new ObjectMapper()
    val lines = Files.readAllLines(Paths.get(dir, "manifest.jsonl")).asScala
    assert(lines.map(json.readTree(_)).map(n =>
      (n.get("iter").asInt, n.get("delta").isNull, n.get("active").asLong)) ==
      Seq((1, true, 3L), (2, true, 3L)))
    for (d <- Seq(Double.PositiveInfinity, Double.NegativeInfinity, 0.25)) {
      val n = json.readTree(SuperstepMetrics(1, 0L, 0L, d, 0L, 0.1, Nil).toJson)
      assert(n.get("delta").isNull == d.isInfinite, d)
    }

    val resumed = Superstep.run(init, step, 0.0, 3, new DurableStore(spark, dir))
    assert(resumed.metrics.map(_.iter) == Seq(3))
    assert(resumed.state.count() == 3)
  }
}

/** The convergence aggregate as the Column query `Superstep.run` planned
  * before its fold: the reference the fold is checked against. */
object ColumnStats {
  def apply(state: DataFrame, tol: Double): (Double, Long, Long) = {
    val Row(maxDelta: Double, active: Long, rows: Long) = state.agg(
      coalesce(max(col("delta")), lit(0.0)),
      coalesce(sum(when(col("delta") > tol, 1L).otherwise(0L)), lit(0L)),
      count(lit(1))).head()
    (maxDelta, active, rows)
  }
}
