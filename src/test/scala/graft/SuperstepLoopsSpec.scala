package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{Join, SHUFFLE_MERGE}
import org.apache.spark.sql.graft.CachedEntries
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.algos.{Betweenness, Coloring, ConnectedComponents, GraphOps,
  Hits, KCores, LabelPropagation, Mis, Neighborhood, PageRank, SCC,
  Sampling, Truss}
import graft.engine.{DurableStore, LocalStore, StateStore, Superstep,
  SuperstepMetrics}

/** The loops on [[graft.engine.Superstep.run]] run one Spark job per
  * superstep, and raw `localCheckpoint(` calls only shrink.
  */
class SuperstepLoopsSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._
  import TestSessions.withJobs
  import org.apache.spark.graft.ListenerDrain

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

    // k-cores: one prep count (und)
    val (kc, kcJobs) = withJobs(KCores.run(spark, edges))
    assert(kc.converged)
    assert(kcJobs == 1 + kc.supersteps, s"k-cores: ${kc.supersteps} steps")

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

  /** A [[LocalStore]] that keeps the executed plan of superstep 1 and the
    * frame of every superstep. */
  private final class FirstStepPlan extends StateStore {
    private val local = new LocalStore
    var plan: SparkPlan = _
    val steps = ArrayBuffer.empty[DataFrame]
    override def persist(state: DataFrame, iter: Int): DataFrame = {
      if (iter == 1) plan = state.queryExecution.executedPlan
      if (iter > 0) steps += state
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

  /** A store that counts the jobs of each superstep: those started from
    * its `persist` call to the next one, or to the end of the run. */
  private final class StepJobs(inner: StateStore) extends StateStore {
    private val sc = spark.sparkContext
    private val jobs = new AtomicInteger(0)
    private val marks = ArrayBuffer.empty[Int]
    private def mark(): Unit = { ListenerDrain(sc); marks += jobs.get() }

    /** `run`'s result and the jobs of each of its supersteps. */
    def watch[A](run: => A): (A, Seq[Int]) = {
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      ListenerDrain(sc)
      sc.addSparkListener(listener)
      try {
        val a = run
        mark()
        (a, marks.toSeq.sliding(2).map { case Seq(x, y) => y - x }.toSeq)
      } finally sc.removeSparkListener(listener)
    }
    override def persist(state: DataFrame, iter: Int): DataFrame = {
      if (iter > 0) mark()
      inner.persist(state, iter)
    }
    override def log(m: SuperstepMetrics): Unit = inner.log(m)
    override def resumePoint(): Option[(Int, DataFrame)] = inner.resumePoint()
    override def release(state: DataFrame): Unit = inner.release(state)
  }

  private val scatterLoops = Seq[(String, StateStore => Superstep.RunResult)](
    "PageRank" -> (s => PageRank.run(spark, path, tol = -1.0, maxIters = 3,
      store = s)),
    "CC" -> (s => ConnectedComponents.run(spark, path, 10, s)),
    "LPA" -> (s => LabelPropagation.run(spark, path, 3, s)))

  test("with broadcasts on, a superstep runs one job and broadcasts no view") {
    // the static views are far under the auto-broadcast threshold, so the
    // planner alone would broadcast them again in every superstep
    val threshold = SQLConf.AUTO_BROADCASTJOIN_THRESHOLD
    TestSessions.withConf("spark.sql.adaptive.enabled" -> "false",
        threshold.key -> threshold.defaultValueString) {
      for ((name, run) <- scatterLoops) {
        val store = new StepJobs(new LocalStore)
        val (res, perStep) = store.watch(run(store))
        assert(perStep == Seq.fill(res.supersteps)(1), name)
        val first = new FirstStepPlan
        run(first)
        val viewBroadcasts = first.plan.collect {
          case b: BroadcastExchangeExec
              if b.exists(_.isInstanceOf[InMemoryTableScanExec]) => b
        }
        assert(viewBroadcasts.isEmpty, s"$name:\n${first.plan}")
      }
      // a durable state is read back from parquet with no partitioning, so
      // the view is still broadcast, and the read-back state's file-size
      // estimate is small enough that the messages are broadcast into the
      // apply join too: the write, the convergence fold and the two
      // broadcasts, and no schema-inference job
      val dir = Files.createTempDirectory("graft-durable-jobs").toString
      val store = new StepJobs(new DurableStore(spark, dir))
      val (res, perStep) =
        store.watch(ConnectedComponents.run(spark, path, 10, store))
      assert(res.converged)
      assert(perStep == Seq.fill(res.supersteps)(4))
    }
  }

  test("the scatter join takes a merge hint only without AQE") {
    // under AQE a checkpointed state leaf advertises no partitioning, and a
    // hinted join would exchange and sort the state on the join
    def mergeHinted(df: DataFrame) = df.queryExecution.optimizedPlan.exists {
      case j: Join => Seq(j.hint.leftHint, j.hint.rightHint).flatten
        .exists(_.strategy.contains(SHUFFLE_MERGE))
      case _ => false
    }
    for (aqe <- Seq(false, true); (name, run) <- scatterLoops)
      TestSessions.withConf("spark.sql.adaptive.enabled" -> aqe.toString) {
        val store = new FirstStepPlan
        run(store)
        assert(store.steps.nonEmpty, name)
        assert(store.steps.forall(mergeHinted(_) != aqe), s"$name, AQE $aqe")
      }
  }

  test("loops on a session that never sets the partition count") {
    // every RDD a loop persists — its static edge views and each
    // superstep's checkpointed state — has the session's effective count,
    // Spark's default 200 here
    val key = "spark.sql.shuffle.partitions"
    val sc = spark.sparkContext
    spark.conf.unset(key)
    try {
      val parts = spark.sessionState.conf.numShufflePartitions
      val persisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]
      val listener = new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          e.stageInfo.rddInfos.filter(_.storageLevel != StorageLevel.NONE)
            .foreach(r => persisted.add(r.numPartitions))
      }
      sc.addSparkListener(listener)
      try {
        for ((name, run) <- Seq[(String, () => DataFrame)](
            "PageRank" -> (() =>
              PageRank.run(spark, path, tol = -1.0, maxIters = 2).state),
            "personalized PageRank" -> (() =>
              PageRank.personalizedFixed(spark, path, Seq(1L), 2)),
            "HITS" -> (() => Hits.run(spark, path, 2)),
            "CC" -> (() => ConnectedComponents.run(spark, path).state))) {
          persisted.clear()
          val (state, _) = withJobs(run())
          ListenerDrain(sc)
          assert(state.count() == 5, name)
          assert(state.rdd.getNumPartitions == parts, name)
          assert(persisted.asScala.toSet == Set(parts), name)
        }
      } finally sc.removeSparkListener(listener)
    } finally spark.conf.set(key, "4")
  }

  test("no loop leaves a cached view behind") {
    val seeds = Seq(1L).toDF("id")
    for ((name, run) <- Seq[(String, () => Any)](
        "CC" -> (() => ConnectedComponents.run(spark, path)),
        "LPA" -> (() => LabelPropagation.run(spark, path, 3)),
        "k-cores" -> (() => KCores.run(spark, path)),
        "HITS" -> (() => Hits.run(spark, path, 2)),
        "SSSP" -> (() => GraphOps.sssp(spark, path, 1L)),
        "k-hop" -> (() => GraphOps.kHopSubgraph(spark, path, seeds, 3)),
        "landmark BFS" -> (() =>
          Neighborhood.landmarkBalls(spark, path, seeds, 3)),
        "hyperBall" -> (() => Neighborhood.hyperBall(spark, path, 4, 3)),
        "betweenness" -> (() => Betweenness.bounded(spark, path, seeds, 3)),
        "neighbor sample" -> (() =>
          Sampling.neighborSample(spark, path, seeds, Seq(2, 2))))) {
      val before = CachedEntries(spark)
      run() match { // a lazy result still computes without the views
        case df: Dataset[_] => assert(df.count() > 0, name)
        case _ =>
      }
      assert(CachedEntries(spark) == before, name)
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
        "classify/AdPredictor.scala", "plans/CsrPageRank.scala",
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

  test("the partition count is read only by LinkGraph and the sessions") {
    assertRatchet("spark.sql.shuffle.partitions", Set.empty,
      Set("core/LinkGraph.scala", "Bench.scala", "BenchExtra.scala",
        "Verify.scala", "jobs/Jobs.scala"))
    assert(callSites("numPartitions").isEmpty)
  }

  test("jobs run directly only in the engine, join hints only in LinkGraph") {
    assertRatchet("runJob(", Set.empty, Set("engine/Superstep.scala"))
    assertRatchet(".hint(", Set.empty, Set("core/LinkGraph.scala"))
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
