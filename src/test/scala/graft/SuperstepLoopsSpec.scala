package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.{GraphOps, Hits, KCores, Neighborhood}

/** The loops on [[graft.engine.Superstep.run]] run one Spark job per
  * superstep, and raw `localCheckpoint(` calls only shrink.
  */
class SuperstepLoopsSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  /** `f`'s result and the jobs started while it runs (static plans: AQE
    * and auto-broadcast off, so the only broadcasts are explicit hints). */
  private def withJobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val prev = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      org.apache.spark.graft.ListenerDrain(sc)
      (a, jobs.get())
    } finally {
      sc.removeSparkListener(listener)
      prev.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

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

  test("localCheckpoint( appears only in Dataflow and unported files") {
    // Files whose loops are not on Superstep yet. Porting a loop removes
    // its file from this list; nothing is ever added.
    val allowed = Set(
      "DevBpeProbe.scala", "DevExplain.scala", "DevStatsProbe.scala",
      "DevTrussProbe.scala", "DevVecProbe.scala",
      "algos/Betweenness.scala", "algos/MinimumSpanningForest.scala",
      "algos/Neighborhood.scala", "algos/RandomWalks.scala",
      "algos/SCC.scala", "algos/Sampling.scala", "algos/Truss.scala",
      "cf/SvdPlusPlus.scala", "cf/TimeSvdPlusPlus.scala",
      "classify/AdPredictor.scala", "frap/FrapPipeline.scala",
      "frap/WLRelabel.scala", "plans/CsrPageRank.scala",
      "streaming/EventStream.scala", "text/Bpe.scala", "text/Dsir.scala",
      "vectors/KMeans.scala", "vectors/Pq.scala")
    val root = Paths.get("src/main/scala/graft")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def lines(p: Path) = Files.readAllLines(p).asScala.toSeq
    val sites = files.map(p => root.relativize(p).toString -> p)
      .filter { case (_, p) => lines(p).exists(_.contains("localCheckpoint(")) }
      .toMap - "core/Dataflow.scala"
    assert(sites.keySet.diff(allowed).isEmpty,
      s"new raw localCheckpoint( sites: ${sites.keySet.diff(allowed)}")
    assert(allowed.diff(sites.keySet).isEmpty,
      s"ported, drop from the list: ${allowed.diff(sites.keySet)}")
    // Neighborhood keeps raw checkpoints only in the ANF snapshot loop
    val nb = lines(sites("algos/Neighborhood.scala"))
    val anf = nb.indexWhere(_.contains("def registerStates("))
    val anfEnd = nb.indexWhere(_.trim.startsWith("/**"), anf)
    assert(anf >= 0 && anfEnd > anf)
    assert(nb.zipWithIndex.forall { case (l, i) =>
      !l.contains("localCheckpoint(") || (i > anf && i < anfEnd) })
  }
}
