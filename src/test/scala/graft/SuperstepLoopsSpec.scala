package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.{Coloring, ConnectedComponents, GraphOps, Hits, KCores,
  LabelPropagation, Mis, Neighborhood, SCC, Truss}
import graft.engine.{LocalStore, StateStore, Superstep, SuperstepMetrics}

/** The loops on [[graft.engine.Superstep.run]] run one Spark job per
  * superstep, and raw `localCheckpoint(` calls only shrink.
  */
class SuperstepLoopsSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._
  import TestSessions.withJobs

  // undirected/directed path 1-2-3-4-5: a BFS or relaxation from vertex 1
  // reaches one new vertex per superstep for 4 supersteps, and the 5th
  // finds an empty frontier
  private def path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    .toDF("src", "dst").withColumn("weight",
      org.apache.spark.sql.functions.lit(1.0))

  test("ported loops run one job per superstep plus their prep jobs") {
    val edges = path
    val seed = Seq(1L).toDF("id")

    def jobsOf(f: => Any): Int = withJobs(f)._2

    // k-cores: two prep counts (und, undDst)
    val (kc, kcJobs) = withJobs(KCores.run(spark, edges))
    assert(kc.converged)
    assert(kcJobs == 2 + kc.supersteps, s"k-cores: ${kc.supersteps} steps")

    // SSSP: one prep count; 5 supersteps
    assert(jobsOf(GraphOps.sssp(spark, edges, 1L)) == 1 + 5)
    // k-hop: lazily cached prep; early stop after 5 of 9 hops
    assert(jobsOf(GraphOps.kHopSubgraph(spark, edges, seed, 9)) == 5)
    assert(jobsOf(GraphOps.kHopSubgraph(spark, edges, seed, 2)) == 2)
    // seeded LPA: one prep count (the edges); fixed rounds
    assert(jobsOf(GraphOps.seededLabelPropagation(spark, edges,
      Seq((1L, 7L)).toDF("id", "label"), iters = 4)) == 1 + 4)
    // landmark BFS: one prep count; 5 supersteps
    assert(jobsOf(Neighborhood.landmarkBalls(spark, edges, seed,
      maxT = 9)) == 1 + 5)
    // HITS: two prep counts; six jobs per round — the superstep job plus
    // five launched while its plan, with the two explicit L2-norm
    // broadcasts, is prepared
    assert(jobsOf(Hits.run(spark, edges, 3)) == 2 + 3 * 6)
  }

  test("second-family loops run one job per superstep plus their prep") {
    import org.apache.spark.sql.functions.lit
    def jobsOf(f: => Any): Int = withJobs(f)._2
    // MoreAlgosSpec's k-truss fixture: K5 on 0..4, a lone triangle, a
    // chain and a bridge triangle 4-10-13
    val k5 = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val fixture = (k5 ++ Seq((10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (21L, 22L), (4L, 10L), (4L, 13L), (10L, 13L)))
      .toDF("src", "dst").withColumn("weight", lit(1.0))

    // Luby MIS and both coloring variants: no prep job (the undirected
    // edges are a lazy cache, the init state is checkpointed by
    // superstep 1's job), then one job per round
    for (g <- Seq(fixture, path)) {
      val ((_, misRounds), misJobs) = withJobs(Mis.run(g))
      assert(misJobs == misRounds, s"MIS: $misRounds rounds")
    }
    for (ldf <- Seq(false, true)) {
      val ((_, rounds), jobs) =
        withJobs(Coloring.run(fixture, 64, 42L, largestFirst = ldf))
      assert(rounds == 5 && jobs == rounds, s"coloring ldf=$ldf: $jobs jobs")
    }

    // decremental truss: two prep jobs (canonical edges, the initial
    // support's removal count), then per peel round the superstep job and
    // the broadcast of the removal batch. At k = 4 the fixture peels
    // everything outside K5 in one round; a triangle strip peels its
    // chords and end edges, then the path left behind: two rounds
    assert(jobsOf(Truss.kTrussDecremental(spark, fixture, 4)) == 2 + 2 * 1)
    val strip = (0L until 6L).flatMap(i => Seq((i, i + 1), (i, i + 2)))
      .toDF("src", "dst")
    assert(jobsOf(Truss.kTrussDecremental(spark, strip, 4)) == 2 + 2 * 2)

    // SCC with the driver finish off, on SccSpec's two cycles and a bridge:
    // 1->2->3->1, 3->4, 4->5->6->4, 6->7. Trim peels 7 (1 superstep),
    // forward colours {1,2,3} -> 3 and {4,5,6} -> 6 (3), backward confirms
    // both cycles from their roots (3). The other 16 jobs are the peel
    // loop's own checkpoints and counts: 4 before the loop, 5 after trim,
    // 2 static edge views, 5 to record the SCCs and peel them.
    val scc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L), (6L, 7L)).toDF("src", "dst")
    val (labels, sccJobs) = withJobs(
      SCC.run(spark, scc, driverFinishBelow = 0L).as[(Long, Long)].collect())
    assert(labels.toMap == Map(1L -> 3L, 2L -> 3L, 3L -> 3L,
      4L -> 6L, 5L -> 6L, 6L -> 6L, 7L -> 7L))
    assert(sccJobs == 16 + (1 + 3 + 3) + 1) // + 1: the collect
  }

  /** A [[LocalStore]] that keeps the executed plan of superstep 1. */
  private final class FirstStepPlan extends StateStore {
    private val local = new LocalStore
    var plan: SparkPlan = _
    override def persist(state: DataFrame, iter: Int): DataFrame = {
      if (iter == 1) plan = state.queryExecution.executedPlan
      local.persist(state, iter)
    }
    override def log(m: SuperstepMetrics): Unit = ()
    override def resumePoint(): Option[(Int, DataFrame)] = None
    override def release(state: DataFrame): Unit = local.release(state)
  }

  test("superstep 1 of LPA and CC exchanges no state") {
    // an exchange on the state side repartitions the checkpointed state
    // leaf directly, through unary operators only
    def stateExchanges(plan: SparkPlan): Seq[SparkPlan] = {
      def reachesState(p: SparkPlan): Boolean = p match {
        case _: RDDScanExec => true
        case _: ShuffleExchangeExec => false
        case _ => p.children.size == 1 && reachesState(p.children.head)
      }
      plan.collect { case e: ShuffleExchangeExec if reachesState(e.child) => e }
    }
    for ((name, run) <- Seq[(String, StateStore => Any)](
        "LPA" -> (s => LabelPropagation.run(spark, path, 2, s)),
        "CC" -> (s => ConnectedComponents.run(spark, path, 10, s)))) {
      val store = new FirstStepPlan
      withJobs(run(store))
      assert(store.plan != null, name)
      assert(stateExchanges(store.plan).isEmpty, s"$name:\n${store.plan}")
    }
  }

  private def callSites(token: String): Map[String, Seq[String]] = {
    val root = Paths.get("src/main/scala/graft")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString ->
        Files.readAllLines(p).asScala.toSeq)
      .filter { case (_, lines) => lines.exists(_.contains(token)) }
      .toMap
  }

  /** Porting a loop removes its file from `allowed`; nothing is added. */
  private def assertRatchet(token: String, exempt: Set[String],
      allowed: Set[String]): Map[String, Seq[String]] = {
    val sites = callSites(token) -- exempt
    assert(sites.keySet.diff(allowed).isEmpty,
      s"new raw $token sites: ${sites.keySet.diff(allowed)}")
    assert(allowed.diff(sites.keySet).isEmpty,
      s"ported, drop from the list: ${allowed.diff(sites.keySet)}")
    sites
  }

  test("localCheckpoint( appears only in Dataflow and unported files") {
    val sites = assertRatchet("localCheckpoint(", Set("core/Dataflow.scala"),
      Set(
        "algos/Betweenness.scala", "algos/MinimumSpanningForest.scala",
        "algos/Neighborhood.scala", "algos/RandomWalks.scala",
        "algos/SCC.scala", "algos/Sampling.scala", "algos/Truss.scala",
        "cf/SvdPlusPlus.scala", "cf/TimeSvdPlusPlus.scala",
        "classify/AdPredictor.scala", "frap/FrapPipeline.scala",
        "plans/CsrPageRank.scala",
        "streaming/EventStream.scala", "text/Dsir.scala",
        "vectors/KMeans.scala", "vectors/Pq.scala"))
    // Neighborhood keeps raw checkpoints only in the ANF snapshot loop
    val nb = sites("algos/Neighborhood.scala")
    val anf = nb.indexWhere(_.contains("def registerStates("))
    val anfEnd = nb.indexWhere(_.trim.startsWith("/**"), anf)
    assert(anf >= 0 && anfEnd > anf)
    assert(nb.zipWithIndex.forall { case (l, i) =>
      !l.contains("localCheckpoint(") || (i > anf && i < anfEnd) })
  }

  test("checkpointRebased( appears only in the engine and unported files") {
    assertRatchet("checkpointRebased(",
      Set("core/Dataflow.scala", "engine/Checkpoints.scala"),
      Set(
        "algos/Louvain.scala", "algos/Truss.scala",
        "cf/SvdPlusPlus.scala", "cf/TimeSvdPlusPlus.scala",
        "classify/AdPredictor.scala"))
  }

  test("broadcasts and mapPartitions scans go through the vector kernel") {
    assertRatchet("sparkContext.broadcast(", Set.empty,
      Set("vectors/Scan.scala"))
    assertRatchet(".mapPartitions", Set.empty, Set("vectors/Scan.scala",
      "plans/CsrPageRank.scala", "multimodal/Multimodal.scala"))
  }

  test("def main( appears only in the measurement, oracle and job mains") {
    assertRatchet("def main(", Set.empty,
      Set("Bench.scala", "Verify.scala", "BenchExtra.scala", "jobs/Jobs.scala"))
  }

  /** A store that checkpoints with `ckpt` and records the digit count of
    * each persisted state's size estimate. */
  private final class DigitsStore(ckpt: (DataFrame, Int) => DataFrame)
      extends StateStore {
    val digits = ArrayBuffer.empty[Int]
    override def persist(state: DataFrame, iter: Int): DataFrame = {
      val p = ckpt(state, iter)
      digits += p.queryExecution.optimizedPlan.stats.sizeInBytes.toString.length
      p
    }
    override def log(m: SuperstepMetrics): Unit = ()
    override def resumePoint(): Option[(Int, DataFrame)] = None
  }

  test("superstep state size estimates stay bounded (stats rebase)") {
    // the state is referenced three times per round (two inner self-joins
    // and a grouped left join): a plain checkpoint keeps the replaced
    // plan's estimate, and an inner join multiplies its children's, so the
    // digit count grows ~3x per round until the driver hangs in BigInteger
    // products
    def step(df: DataFrame, iter: Int): DataFrame = {
      val a = df.select(col("id"), (col("v") + 1).as("v"))
      a.join(df.select(col("id"), col("v").as("w")), Seq("id"))
        .join(a.withColumnRenamed("v", "u"), Seq("id"))
        .join(df.groupBy(col("v")).count().withColumnRenamed("v", "id"),
          Seq("id"), "left")
        .select(col("id"), (col("v") + col("w") + col("u")).as("v"),
          lit(0.0).as("delta"))
    }
    def digits(ckpt: (DataFrame, Int) => DataFrame, supersteps: Int) = {
      val store = new DigitsStore(ckpt)
      val init = spark.range(1000)
        .select(col("id"), col("id").as("v"), lit(0.0).as("delta"))
      val r = Superstep.run(init, step, tol = -1.0, supersteps, store)
      assert(r.supersteps == supersteps)
      store.digits.toSeq
    }
    val rebased = digits(new LocalStore().persist, 8)
    assert(rebased.size == 9 && rebased.forall(_ <= 19), rebased)
    val plain = digits((df, _) => df.localCheckpoint(true), 3)
    assert(plain.last > 19, plain)
  }
}
