package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.GraftSqlBridge.ReboundStep
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.immutable.ListMap
import graft.core.LinkGraph
import graft.algos.{Betweenness, Coloring, ConnectedComponents, GraphOps,
  LabelPropagation, LinkPrediction, Louvain, Mis, Neighborhood, PageRank, SCC,
  TriangleCount}
import graft.engine.{LocalStore, Superstep, SuperstepMetrics}
import graft.plans.CsrPageRank
import graft.vectors.{Pq, Similarity}

/** The measurement main beside the frozen [[Bench]] (which prints only
  * per-query totals). Every mode shares one session, timer and noop sink;
  * arguments are positional.
  *
  * {{{
  * dev/run.sh graft.BenchExtra <mode> [args...]
  *   plans    [outDir] [tag]        formatted plans of the bench legs, incl.
  *                                  each loop's built superstep and its first
  *                                  rebound one (PlanStore), to
  *                                  outDir/<leg>_<tag>.txt
  *   phases                         prep vs per-superstep wall of the legs
  *   lpa                            LPA phases with a per-stage log
  *   sweep    <outDir> <tag> [query...]
  *                                  noop-sink time of every SparkEntry query
  *                                  (or the named ones); outDir/tag unused
  *   explainq <outDir> <tag> <query...>
  *                                  formatted plan of the named queries
  *   vec      [n] [centEvery] [dim] [op...]
  *                                  vector scans on an n x dim synthetic
  *                                  corpus; ops brute ivf lsh neardup pq ivfpq
  *                                  (default all; n 200000, centEvery 1000,
  *                                  dim 64)
  *   csr      <edges.parquet> [supersteps]
  *                                  DataFrame vs CSR PageRank median
  *                                  steady-state superstep (default 10)
  *   scale    <edges.parquet> <op...>
  *                                  graph ops on a parked (src, dst) parquet:
  *                                  pagerank cc scc nf louvain triangles
  *                                  assort lcc betweenness coloring
  *                                  coloring_ldf mis linkpred
  * }}}
  * plans, phases and lpa derive and cache the link graph of
  * SPARK_GRAFT_SF_DIR; sweep and explainq run its queries. sweep, explainq
  * and vec run with AQE on (unless DEV_AQE=false), the rest as [[Bench]].
  */
object BenchExtra {

  /** Same session config as the frozen bench (local[cpus], AQE off,
    * 32 shuffle partitions, tmpfs shuffle dir, Kryo).
    */
  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark"))
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrator", "graft.plans.GraftKryoRegistrator")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** LocalStore that also records the formatted plan of each superstep's
    * pre-checkpoint computation — the shipped step closure's actual plan —
    * and whether it reran a built step with its state leaf rebound.
    */
  final class PlanStore extends graft.engine.StateStore {
    private val inner = new LocalStore
    val plans =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, String)]
    override def persist(state: DataFrame, iter: Int): DataFrame = {
      plans += ((iter, state.queryExecution.analyzed.isInstanceOf[ReboundStep],
        state.queryExecution.explainString(ExplainMode.fromString("formatted"))))
      inner.persist(state, iter)
    }

    /** The first rebound superstep's plan and the plan of the built step it
      * reran, as `(file suffix, title, plan)`; superstep 2's plan alone
      * when no superstep was rebound (AQE). */
    def builtAndRebound(name: String): Seq[(String, String, String)] =
      plans.find(_._2) match {
        case Some((iter, _, rebound)) =>
          val (built, _, plan) = plans.filter(p => p._1 > 0 && p._1 < iter).last
          Seq(("built", s"== $name superstep $built, built ==", plan),
            ("rebound", s"== $name superstep $iter, the step built in " +
              s"superstep $built rerun with its state leaf rebound ==", rebound))
        case None => plans.find(_._1 == 2).toSeq.map { case (_, _, plan) =>
          ("built", s"== $name superstep 2, built ==", plan) }
      }
    override def log(m: SuperstepMetrics): Unit = inner.log(m)
    override def resumePoint(): Option[(Int, DataFrame)] = None
    override def release(state: DataFrame): Unit = inner.release(state)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def write(dir: String, name: String, content: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.writeString(p.resolve(name), content)
    println(s"[plans] wrote $dir/$name")
  }

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def stepSummary(name: String, prepSec: Double,
      ms: Seq[SuperstepMetrics]): String = {
    val steps = ms.map(m => f"${m.wallSec}%.3f").mkString(",")
    f"[phase] $name prep=$prepSec%.3f supersteps=${ms.size} " +
      f"step_total=${ms.map(_.wallSec).sum}%.3f steps=[$steps]"
  }

  /** Stage-level listener: prints every completed stage's wall time, task
    * count, and shuffle/input volumes — the CLI stand-in for the Stages tab
    * (guide §7.1) since the bench runs with the UI disabled.
    */
  final class StageLog extends org.apache.spark.scheduler.SparkListener {
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val m = i.taskMetrics
      val wall = (i.completionTime.getOrElse(0L) -
        i.submissionTime.getOrElse(0L)) / 1e3
      println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%3d " +
        f"wall=$wall%7.2fs exec=${m.executorRunTime / 1e3}%8.2fs " +
        f"cpu=${m.executorCpuTime / 1e9}%8.2fs " +
        f"gc=${m.jvmGCTime / 1e3}%6.2fs " +
        f"sRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
        f"sWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
        f"spillMem=${m.memoryBytesSpilled / 1e6}%8.1fMB " +
        i.name.takeWhile(_ != '\n').take(60))
    }
  }

  /** The Verify-like environment of sweep, explainq and vec: AQE on
    * unless DEV_AQE=false. */
  private def verifyLike(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.adaptive.enabled",
      sys.env.getOrElse("DEV_AQE", "true"))

  /** `vec`: the shipped vector scans on one synthetic corpus (embeddings in
    * [-1, 1) from hash(vec_id, j)), cached and counted before any timing,
    * queried by its first 10 vectors for top-5.
    */
  private def vec(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args.lift(0).fold(200000)(_.toInt)
    val centEvery = args.lift(1).fold(1000)(_.toInt)
    val dim = args.lift(2).fold(64)(_.toInt)
    verifyLike(spark)
    val emb = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        ((pmod(xxhash64(col("id") * lit(dim) + j), lit(2000)).cast("double") -
          lit(1000.0)) / lit(1000.0)).cast("float")).as("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    emb.count()
    val queries = emb.filter(col("vec_id") < 10)
    // pq: m = 8 subspaces x ks = 16 codes, 2 Lloyd iterations; ivfpq adds
    // 64 coarse cells (2 iterations) probed 8 at a time
    val scans = ListMap[String, () => DataFrame](
      "brute" -> (() => Similarity.bruteForceTopK(emb, queries, 5)),
      "ivf" -> (() => Similarity.ivfTopK(emb, queries, 5, centEvery)),
      "lsh" -> (() => Similarity.lshTopK(emb, queries, 5)),
      "neardup" -> (() => Similarity.nearDupPairs(emb, 0.4, 12, dim)),
      "pq" -> (() => Pq.adcTopK(emb, queries, scale = 1000, m = 8, ks = 16,
        iters = 2, k = 5)),
      "ivfpq" -> (() => Pq.ivfAdcTopK(emb, queries, k = 5, cells = 64,
        cellIters = 2, m = 8, ks = 16, pqIters = 2, nprobe = 8)))
    val ops = if (args.length > 3) args.drop(3) else scans.keys.toSeq
    require(ops.forall(scans.contains), s"vec ops: ${scans.keys.mkString(" ")}")
    println(s"[vec] n=$n dim=$dim centEvery=$centEvery cells=${n / centEvery}")
    ops.foreach { op =>
      spark.sparkContext.setJobDescription(op)
      val (_, sec) = timed(noop(scans(op)()))
      println(f"[vec] $op%-8s $sec%9.2f s")
    }
  }

  /** A parked edge parquet, cached and counted. */
  private def parked(spark: SparkSession, path: String): (DataFrame, Long) = {
    val edges = spark.read.parquet(path).persist(StorageLevel.MEMORY_AND_DISK)
    (edges, edges.count())
  }

  /** `csr`: DataFrame vs CSR PageRank, interleaved over two reps so both
    * see the same ambient load. Each side reports the median of its
    * supersteps after the same 2 warm-up supersteps; each side's one-off
    * prep (share table, CSR blocks) is outside its per-step clocks.
    */
  private def csr(spark: SparkSession, path: String, steps: Int): Unit = {
    val (edges, n) = parked(spark, path)
    val warmup = 2
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    for (rep <- 1 to 2) {
      val store = new LocalStore
      val (_, dfSec) = timed(PageRank.run(spark, edges, tol = -1.0,
        maxIters = steps + warmup, store = store))
      val dfMed = median(store.metrics.drop(warmup).map(_.wallSec))
      val (res, csrSec) = timed(CsrPageRank.run(spark, edges, tol = -1.0,
        maxIters = steps + warmup))
      val csrMed = median(res.stepSecs.drop(warmup))
      println(f"[csr] rep=$rep edges=$n df_total=$dfSec%.1f " +
        f"df_median_step=$dfMed%.2f df_eps=${n / dfMed}%.0f " +
        f"csr_total=$csrSec%.1f csr_median_step=$csrMed%.2f " +
        f"csr_eps=${n / csrMed}%.0f")
    }
  }

  /** `scale` ops over parked edges `e` (src, dst, weight = 1.0). A loop op
    * returns its [[Superstep.RunResult]]; every other op a small summary
    * frame, collected inside the timer.
    */
  private def scaleOps(spark: SparkSession,
      e: DataFrame): Map[String, () => AnyRef] = {
    def sizes(df: DataFrame, by: String, n: String) =
      df.groupBy(col(by)).count()
        .agg(count(lit(1)).as(n), max(col("count")).as("largest"))
    def colors(largestFirst: Boolean) = {
      val (df, rounds) = Coloring.run(e, 256, 42L, largestFirst)
      df.agg(countDistinct(col("color")).as("colors"), lit(rounds).as("rounds"))
    }
    Map(
      "pagerank" -> (() => PageRank.run(spark, e, maxIters = 200)),
      "cc" -> (() => ConnectedComponents.run(spark, e, maxIters = 100)),
      "scc" -> (() => sizes(SCC.run(spark, e, maxRounds = 60), "scc", "n_scc")),
      // HyperBall (m = 32 registers) and exact landmark balls, radius 4
      "nf" -> (() => Neighborhood.hyperBall(spark, e, 5, 4)
        .join(Neighborhood.landmarkBalls(spark, e,
          LinkGraph.vertices(e).filter(col("id") % 131071 === 0), 4)
          .groupBy(col("t").cast("int").as("t"))
          .agg(count(lit(1)).as("landmarks"), sum("n_reached").as("nf_exact")),
          "t").orderBy("t")),
      // canonical undirected unit-weight graph; the tail is cut once a
      // round moves at most 0.1% of |V|
      "louvain" -> (() => {
        val und = e.select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .filter(col("src") =!= col("dst")).distinct().withColumn("w", lit(1L))
        val nV = LinkGraph.vertices(und).count()
        sizes(Louvain.localMoving(und, 150, minMoved = nV / 1000),
          "community", "communities")
      }),
      "triangles" -> (() => TriangleCount.total(spark, e)),
      "assort" -> (() => GraphOps.degreeAssortativity(e)),
      "lcc" -> (() => TriangleCount.clusteringCoefficient(spark, e)
        .agg(count(lit(1)).as("vertices"), max(col("lcc_q6")).as("max_lcc_q6"))),
      // bounded Brandes from the landmarks id % 59999 == 0, radius 3
      "betweenness" -> (() => Betweenness.bounded(spark, e,
          LinkGraph.vertices(e).filter(col("id") % 59999 === 0), maxT = 3)
        .agg(count(lit(1)).as("vertices"), max(col("bc_q6")).as("max_bc_q6"))),
      "coloring" -> (() => colors(largestFirst = false)),
      "coloring_ldf" -> (() => colors(largestFirst = true)),
      "mis" -> (() => {
        val (mis, rounds) = Mis.run(e)
        mis.agg(count(lit(1)).as("mis_size"), lit(rounds).as("rounds"))
      }),
      // the gate query's apex cap 64: candidates stay bounded by
      // |apexes| * C(64, 2), never degree-squared on the hubs
      "linkpred" -> (() => LinkPrediction.scores(e, 64L, 2L)
        .agg(count(lit(1)).as("candidates"))))
  }

  /** `scale`: time each op over the parked edges; a loop op also prints its
    * per-superstep metrics. A failing op is reported and the next one runs.
    */
  private def scale(spark: SparkSession, path: String,
      ops: Seq[String]): Unit = {
    val (raw, n) = parked(spark, path)
    val table = scaleOps(spark, raw.withColumn("weight", lit(1.0)))
    require(ops.nonEmpty && ops.forall(table.contains),
      s"scale ops: ${table.keys.toSeq.sorted.mkString(" ")}")
    ops.foreach { op =>
      spark.sparkContext.setJobDescription(op)
      try {
        val (out, sec) = timed(table(op)() match {
          case df: Dataset[_] => df.toDF().collect().map(row =>
            df.columns.zip(row.toSeq).map { case (k, v) => s"$k=$v" }
              .mkString(" ")).mkString("; ")
          case r => r
        })
        val result = out match {
          case r: Superstep.RunResult =>
            r.metrics.foreach(m => println(s"[scale-step] $op ${m.toJson}"))
            s"supersteps=${r.supersteps} converged=${r.converged}"
          case s => s
        }
        println(f"[scale] $op edges=$n sec=$sec%.1f " +
          f"edges_per_sec=${n / sec}%.0f $result")
      } catch {
        case e: Exception => println(s"[scale] $op FAILED: ${e.getMessage}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "phases"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val outDir = if (args.length > 1) args(1) else "/root/repo/plans/r06"
    val tag = if (args.length > 2) args(2) else "before"
    val spark = session(cpus)
    val sc = spark.sparkContext

    def derivedEdges(): DataFrame = {
      sc.setJobDescription("derive_edges")
      val edges = LinkGraph.edges(spark, sfDir)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val (nEdges, deriveSec) = timed(edges.count())
      println(f"[phase] derive_edges count=$nEdges sec=$deriveSec%.3f")
      edges
    }

    try mode match {
      case "plans" =>
        val edges = derivedEdges()
        write(outDir, s"derive_edges_$tag.txt",
          fmt(LinkGraph.edges(spark, sfDir)))

        for ((name, file, run) <- Seq[(String, String, PlanStore => Any)](
            ("PageRank", "pagerank", s =>
              PageRank.run(spark, edges, tol = 1e-6, maxIters = 200, store = s)),
            ("CC", "connected_components", s =>
              ConnectedComponents.run(spark, edges, store = s)),
            ("LPA", "label_propagation", s =>
              LabelPropagation.run(spark, edges, iters = 5, store = s)))) {
          val store = new PlanStore
          sc.setJobDescription(file)
          run(store)
          store.builtAndRebound(name).foreach { case (kind, title, plan) =>
            write(outDir, s"${file}_superstep_${kind}_$tag.txt", s"$title\n$plan")
          }
        }

        write(outDir, s"triangle_total_$tag.txt",
          fmt(TriangleCount.total(spark, edges)))
      case "phases" =>
        val edges = derivedEdges()
        // phases: per-query phase breakdown, best for spotting where the
        // seconds go (prep vs steps); one-shot legs get a noop sink.
        sc.setJobDescription("pagerank")
        val prStore = new LocalStore
        val (_, prSec) = timed(
          PageRank.run(spark, edges, tol = 1e-6, maxIters = 200, store = prStore))
        println(stepSummary("pagerank_1e6",
          prSec - prStore.metrics.map(_.wallSec).sum, prStore.metrics))

        sc.setJobDescription("connected_components")
        val ccStore = new LocalStore
        val (_, ccSec) = timed(
          ConnectedComponents.run(spark, edges, store = ccStore))
        println(stepSummary("connected_components",
          ccSec - ccStore.metrics.map(_.wallSec).sum, ccStore.metrics))

        sc.setJobDescription("label_propagation_5")
        val lpaStore = new LocalStore
        val (_, lpaSec) = timed(
          LabelPropagation.run(spark, edges, iters = 5, store = lpaStore))
        println(stepSummary("label_propagation_5",
          lpaSec - lpaStore.metrics.map(_.wallSec).sum, lpaStore.metrics))

        sc.setJobDescription("triangle_total")
        val (_, triSec) = timed(noop(TriangleCount.total(spark, edges)))
        println(f"[phase] triangle_total sec=$triSec%.3f")

        sc.setJobDescription("pagerank_csr")
        val (_, csrSec) = timed(
          CsrPageRank.run(spark, edges, tol = 1e-6, maxIters = 200))
        println(f"[phase] pagerank_csr_1e6 sec=$csrSec%.3f")
      case "sweep" =>
        // Time EVERY SparkEntry query (noop sink; guide §1.4) — the empirical
        // ranking that directs the operator-by-operator sweep. Optional
        // query names after <outDir> <tag> restrict the sweep to them.
        verifyLike(spark)
        val only = args.drop(3).toSet
        val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        SparkEntry.queries.filter(q => only.isEmpty || only(q._1))
            .foreach { case (name, fn) =>
          sc.setJobDescription(name)
          try {
            val (_, sec) = timed(noop(fn(spark, sfDir)))
            results += ((name, sec))
            println(f"[sweep] $name%-28s $sec%8.2fs")
          } catch {
            case e: Throwable =>
              println(s"[sweep] $name FAILED: ${e.getMessage.take(120)}")
          }
        }
        println("[sweep] slowest:")
        results.sortBy(-_._2).take(20).foreach { case (n, s) =>
          println(f"[sweep-top] $n%-28s $s%8.2fs")
        }
      case "explainq" =>
        // the plans/<round> before/after evidence of non-bench queries
        verifyLike(spark)
        args.drop(3).foreach { q =>
          SparkEntry.queries.get(q) match {
            case Some(fn) => write(outDir, s"${q}_$tag.txt", fmt(fn(spark, sfDir)))
            case None => println(s"[plans] unknown query: $q")
          }
        }
      case "lpa" =>
        val edges = derivedEdges()
        sc.addSparkListener(new StageLog)
        val lpaStore = new LocalStore
        val (_, lpaSec) = timed(
          LabelPropagation.run(spark, edges, iters = 5, store = lpaStore))
        Thread.sleep(500)
        println(stepSummary("label_propagation_5",
          lpaSec - lpaStore.metrics.map(_.wallSec).sum, lpaStore.metrics))
      case "vec" => vec(spark, args.drop(1).toSeq)
      case "csr" => csr(spark, args(1), args.lift(2).fold(10)(_.toInt))
      case "scale" => scale(spark, args(1), args.drop(2).toSeq)
      case other => throw new IllegalArgumentException(
        s"unknown mode $other; the BenchExtra scaladoc lists the modes")
    } finally spark.stop()
  }
}
