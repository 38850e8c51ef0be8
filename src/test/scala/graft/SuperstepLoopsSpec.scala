package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.{Join, SHUFFLE_MERGE}
import org.apache.spark.sql.graft.CachedEntries
import org.apache.spark.sql.graft.GraftSqlBridge.ReboundStep
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
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
    // a rebound superstep reruns the plan of the step it was rebound from,
    // so the hint is read from the built steps; under AQE none is rebound
    for (aqe <- Seq(false, true); (name, run) <- scatterLoops)
      TestSessions.withConf("spark.sql.adaptive.enabled" -> aqe.toString) {
        val store = new FirstStepPlan
        run(store)
        val (rebound, built) = store.steps.partition(isRebound)
        assert(built.nonEmpty, name)
        assert(built.forall(mergeHinted(_) != aqe), s"$name, AQE $aqe")
        assert(rebound.isEmpty == aqe, s"$name, AQE $aqe")
      }
  }

  private def isRebound(step: DataFrame): Boolean =
    step.queryExecution.analyzed.isInstanceOf[ReboundStep]

  /** A store that records, for each superstep, whether its step was rerun
    * over a rebound state leaf rather than built. */
  private final class Rebinds(inner: StateStore) extends StateStore {
    val rebound = ArrayBuffer.empty[Boolean]
    override def persist(state: DataFrame, iter: Int): DataFrame = {
      if (iter > 0) rebound += isRebound(state)
      inner.persist(state, iter)
    }
    override def log(m: SuperstepMetrics): Unit = inner.log(m)
    override def resumePoint(): Option[(Int, DataFrame)] = inner.resumePoint()
    override def release(state: DataFrame): Unit = inner.release(state)
  }

  // 40 vertices, 120 pseudo-random edges: several components, hubs and
  // cycles, so every loop shuffles and runs its full superstep budget
  private def tangle = (0 until 120)
    .map(i => ((i * 7919L) % 40, (i * 104729L + 13) % 37))
    .filter { case (a, b) => a != b }
    .toDF("src", "dst").withColumn("weight", lit(1.0))

  test("a step is built at most twice per run, never under AQE") {
    def values(state: DataFrame, c: String): Map[Long, Any] =
      state.select(col("id"), col(c)).collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
    val loops = Seq[(String, String, StateStore => Superstep.RunResult)](
      ("PageRank", "rank", s => PageRank.run(spark, tangle, tol = -1.0,
        maxIters = 6, store = s)),
      ("CC", "label", s => ConnectedComponents.run(spark, tangle, 20, s)),
      ("LPA", "label", s => LabelPropagation.run(spark, tangle, 5, s)))
    for ((name, c, run) <- loops) {
      def once(aqe: Boolean, durable: Boolean) =
        TestSessions.withConf("spark.sql.adaptive.enabled" -> aqe.toString) {
          val store = new Rebinds(if (!durable) new LocalStore else
            new DurableStore(spark,
              Files.createTempDirectory("graft-rebind").toString))
          val res = run(store)
          assert(store.rebound.size == res.supersteps, name)
          (values(res.state, c), store.rebound.toSeq)
        }
      val (want, adaptive) = once(aqe = true, durable = false)
      assert(!adaptive.contains(true), s"$name rebound under AQE")
      for (durable <- Seq(false, true)) {
        val what = s"$name, durable $durable"
        val (got, rebound) = once(aqe = false, durable)
        assert(rebound.count(!_) <= 2 && rebound.contains(true),
          s"$what: $rebound")
        assert(got.keySet == want.keySet, what)
        if (c == "rank") assert(got.forall { case (k, v) =>
          math.abs(v.asInstanceOf[Double] - want(k).asInstanceOf[Double]) <=
            1e-12 }, what)
        else assert(got == want, what)
      }
    }
  }

  test("a state laid out differently, or with no leaf, builds the step") {
    // the store lays superstep 3's state out in 2 partitions and
    // superstep 5's back in 4: the supersteps that read them (4 and 6)
    // build the step again, and the rest rerun the last one built
    def relaid(state: DataFrame, iter: Int): DataFrame = iter match {
      case 3 => state.repartition(2, col("id"))
      case 5 => state.repartition(4, col("id"))
      case _ => state
    }
    // a projection of the checkpoint has no leaf to rebind
    def projected(state: DataFrame): DataFrame =
      state.select(state.columns.map(col).toSeq: _*)
    for ((before, after, want) <- Seq[((DataFrame, Int) => DataFrame,
        DataFrame => DataFrame, Seq[Int])](
        (relaid, identity, Seq(1, 4, 6)),
        ((state, _) => state, projected, 1 to 7))) {
      val local = new LocalStore
      var persisted = 0
      val store = new StateStore {
        override def persist(state: DataFrame, iter: Int): DataFrame = {
          persisted = iter
          after(local.persist(before(state, iter), iter))
        }
        override def log(m: SuperstepMetrics): Unit = ()
        override def resumePoint(): Option[(Int, DataFrame)] = None
      }
      val built = ArrayBuffer.empty[Int]
      def step(state: DataFrame): DataFrame = {
        built += persisted + 1
        state.select(col("id"), (col("v") + 1).as("v"), lit(1.0).as("delta"))
      }
      val init = spark.range(20)
        .select(col("id"), col("id").as("v"), lit(1.0).as("delta"))
        .repartition(4, col("id"))
      val res = TestSessions.withConf("spark.sql.adaptive.enabled" -> "false") {
        Superstep.run(init, step, tol = -1.0, 7, store)
      }
      assert(built == want)
      assert(res.state.as[(Long, Long, Double)].collect().toSet ==
        (0L until 20L).map(i => (i, i + 7, 1.0)).toSet)
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
          Sampling.neighborSample(spark, path, seeds, Seq(2, 2))),
        "negative sample" -> (() => Sampling.negativeSample(spark, path, 1)))) {
      val before = CachedEntries(spark)
      run() match { // a lazy result still computes without the views
        case df: Dataset[_] => assert(df.count() > 0, name)
        case _ =>
      }
      assert(CachedEntries(spark) == before, name)
    }
  }

  private def callSites(token: String,
      under: String = "src/main/scala/graft"): Map[String, Seq[String]] = {
    val root = Paths.get(under)
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString ->
        Files.readAllLines(p).asScala.toSeq)
      .filter { case (_, lines) => lines.exists(_.contains(token)) }
      .toMap
  }

  /** Porting a loop removes its file from `allowed`; nothing is added. */
  private def assertRatchet(token: String, exempt: Set[String],
      allowed: Set[String],
      under: String = "src/main/scala/graft"): Map[String, Seq[String]] = {
    val sites = callSites(token, under) -- exempt
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
        "algos/Louvain.scala",
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

  test("physical scans and planner strategies appear only in the bridge") {
    // rebinding a step's state leaf is plan surgery on Spark's internals,
    // kept in one auditable file
    for (token <- Seq("RDDScanExec", "FileSourceScanExec", "extraStrategies"))
      assertRatchet(token, Set.empty,
        Set("org/apache/spark/sql/graft/GraftSqlBridge.scala"),
        under = "src/main/scala")
  }

  test("a LocalStore loop holds only its final state's checkpoint") {
    // and logs each partition's rows and bytes from the fold
    val sc = spark.sparkContext
    for ((name, run) <- scatterLoops; aqe <- Seq(false, true))
      TestSessions.withConf("spark.sql.adaptive.enabled" -> aqe.toString) {
        val what = s"$name, AQE $aqe"
        val before = sc.getPersistentRDDs.keySet
        val store = new LocalStore
        val res = run(store)
        val held = sc.getPersistentRDDs.keySet -- before
        val last = res.state.queryExecution.analyzed.collect {
          case r: LogicalRDD => r.rdd.id }
        assert(last.size == 1 && held == last.toSet, s"$what: $held")
        val ms = store.metrics
        assert(ms.size == res.supersteps && ms.forall(m =>
          m.partitions.map(_.partition) == (0 until m.partitions.size) &&
          m.partitions.nonEmpty && m.rows == m.partitions.map(_.rows).sum &&
          m.bytes == m.partitions.map(_.bytes).sum && m.bytes > 8 * m.rows),
          s"$what: $ms")
      }
  }

  test("def main( appears only in the measurement, oracle and job mains") {
    assertRatchet("def main(", Set.empty,
      Set("Bench.scala", "Verify.scala", "BenchExtra.scala", "jobs/Jobs.scala"))
  }

  /** String and char literals, then `//`, `/* */` and scaladoc comments. */
  private val literalOrComment =
    """"{3}[\s\S]*?"{3,}|"(?:\\.|[^"\\\n])*"|'\\?.'|//[^\n]*|/\*[\s\S]*?\*/""".r

  /** `src` with its comments blanked and its literals kept. */
  private def stripComments(src: String): String =
    literalOrComment.replaceAllIn(src, m =>
      if (m.matched.startsWith("/")) " "
      else scala.util.matching.Regex.quoteReplacement(m.matched))

  /** Public defs no `src/main` code calls, each with why it stays. */
  private val uncalledKeepList: Map[String, String] = Map(
    "graft/frap/FrapPipeline.scala: detectAtScale" ->
      ("the paper's detection stage at scale (myapps/main.cpp:322-387); " +
        "FrapSpec pins its job count"),
    "graft/core/Skew.scala: replicatedSkewJoin" ->
      ("the north star's broadcast-side replication; ROADMAP item 8 " +
        "decides skew"),
    "graft/streaming/EventStream.scala: streamingPageRank" ->
      "the reference's streaming_pagerank.cpp",
    "graft/streaming/EventStream.scala: evolvingEdgeIngest" ->
      "the reference's dynamic-graph edge ingest",
    "graft/cf/Factorize.scala: als" ->
      "reference toolkit app (COVERAGE §2.11)",
    "graft/cf/Factorize.scala: nmf" ->
      "reference toolkit app (COVERAGE §2.11)",
    "graft/cf/Factorize.scala: wals" ->
      "reference toolkit app (COVERAGE §2.11)",
    "graft/cf/Topics.scala: lda" ->
      "reference toolkit app (COVERAGE §2.11)",
    "graft/cf/ItemCF.scala: recommend" ->
      "reference toolkit app, itemsim2rating (COVERAGE §2.11)",
    "graft/algos/Neighborhood.scala: zero" -> "implements Aggregator",
    "graft/algos/Neighborhood.scala: bufferEncoder" -> "implements Aggregator",
    "graft/algos/Neighborhood.scala: outputEncoder" -> "implements Aggregator")

  test("every public src/main def has a src/main caller or a kept reason") {
    // A def counts as called when its name occurs anywhere else in the
    // comment-stripped src/main code. The match is by name, not by symbol,
    // so it errs toward "called": an uncalled def that shares a name with
    // another identifier passes. Bare `private` and `override` defs are
    // skipped; `private[x]` counts as public.
    val code = callSites("", under = "src/main/scala") // every file
      .map { case (f, lines) => f -> stripComments(lines.mkString("\n")) }
    val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    val uses = code.values.flatMap(ident.findAllIn)
      .toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val defn = """(?m)^(.*?)\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val hidden = """\boverride\b|\bprivate\b(?!\s*\[)""".r
    val uncalled = (for {
      (f, src) <- code.toSeq
      m <- defn.findAllMatchIn(src)
      if hidden.findFirstIn(m.group(1)).isEmpty && uses(m.group(2)) == 1
    } yield s"$f: ${m.group(2)}").toSet
    val unkept = uncalled -- uncalledKeepList.keySet
    assert(unkept.isEmpty, s"caller-less defs: ${unkept.toSeq.sorted}")
    assert((uncalledKeepList.keySet -- uncalled).isEmpty,
      "kept defs that gained a caller or are gone: " +
        (uncalledKeepList.keySet -- uncalled).toSeq.sorted)
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
    def step(df: DataFrame): DataFrame = {
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
