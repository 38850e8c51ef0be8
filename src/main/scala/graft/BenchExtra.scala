package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.core.LinkGraph
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.engine.{LocalStore, SuperstepMetrics}

/** Round-6 optimization harness (guide §1): the frozen [[Bench]] prints only
  * per-query totals, so this separate main provides (a) `plans` — the
  * .explain("formatted") of every bench query path, including the REAL
  * per-superstep plan captured from the shipped `step` closures via a
  * plan-recording StateStore, written to plans/r06/<query>_<tag>.txt; and
  * (b) `phases` — per-phase wall timings (prep vs per-superstep) with a
  * noop-sink action for the one-shot queries, so the computation is timed,
  * not the sink. Bench.scala itself is measurement-frozen; nothing here is
  * referenced from it.
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
    * pre-checkpoint computation — the shipped step closure's actual plan.
    */
  final class PlanStore extends graft.engine.StateStore {
    private val inner = new LocalStore
    val plans = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    override def persist(state: DataFrame, iter: Int): DataFrame = {
      plans += ((iter,
        state.queryExecution.explainString(ExplainMode.fromString("formatted"))))
      inner.persist(state, iter)
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

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "phases"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val outDir = if (args.length > 1) args(1) else "/root/repo/plans/r06"
    val tag = if (args.length > 2) args(2) else "before"
    val spark = session(cpus)
    val sc = spark.sparkContext

    sc.setJobDescription("derive_edges")
    val edges = LinkGraph.edges(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (nEdges, deriveSec) = timed(edges.count())
    println(f"[phase] derive_edges count=$nEdges sec=$deriveSec%.3f")

    if (mode == "plans") {
      write(outDir, s"derive_edges_$tag.txt",
        fmt(LinkGraph.edges(spark, sfDir)))

      val prStore = new PlanStore
      sc.setJobDescription("pagerank")
      PageRank.run(spark, edges, tol = 1e-6, maxIters = 200, store = prStore)
      write(outDir, s"pagerank_superstep_$tag.txt",
        "== PageRank superstep (iter 2 of the shipped loop; " +
          "iter 0 is the init state) ==\n" +
          prStore.plans.find(_._1 == 2).map(_._2).getOrElse("<missing>"))

      val ccStore = new PlanStore
      sc.setJobDescription("connected_components")
      ConnectedComponents.run(spark, edges, store = ccStore)
      write(outDir, s"connected_components_superstep_$tag.txt",
        "== CC superstep (iter 2 of the shipped loop) ==\n" +
          ccStore.plans.find(_._1 == 2).map(_._2).getOrElse("<missing>"))

      val lpaStore = new PlanStore
      sc.setJobDescription("label_propagation")
      LabelPropagation.run(spark, edges, iters = 5, store = lpaStore)
      write(outDir, s"label_propagation_superstep_$tag.txt",
        "== LPA superstep (iter 2 of the shipped loop) ==\n" +
          lpaStore.plans.find(_._1 == 2).map(_._2).getOrElse("<missing>"))

      write(outDir, s"triangle_total_$tag.txt",
        fmt(TriangleCount.total(spark, edges)))
    } else if (mode == "phases") {
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
        graft.plans.CsrPageRank.run(spark, edges, tol = 1e-6, maxIters = 200))
      println(f"[phase] pagerank_csr_1e6 sec=$csrSec%.3f")
    }
    if (mode == "sweep") {
      // Time EVERY SparkEntry query (noop sink; guide §1.4) — the empirical
      // ranking that directs the operator-by-operator sweep. Runs in the
      // Verify-like environment (AQE on) unless DEV_AQE=false. Optional
      // query names after <outDir> <tag> restrict the sweep to them.
      spark.conf.set("spark.sql.adaptive.enabled",
        sys.env.getOrElse("DEV_AQE", "true"))
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
    }
    if (mode == "explainq") {
      // explainq <outDir> <tag> <query...>: write the formatted plan of any
      // declared SparkEntry query (Verify-like environment: AQE on) —
      // used for the plans/r06 before/after evidence of non-bench queries.
      spark.conf.set("spark.sql.adaptive.enabled",
        sys.env.getOrElse("DEV_AQE", "true"))
      args.drop(3).foreach { q =>
        SparkEntry.queries.get(q) match {
          case Some(fn) => write(outDir, s"${q}_$tag.txt", fmt(fn(spark, sfDir)))
          case None => println(s"[plans] unknown query: $q")
        }
      }
    }
    if (mode == "lpa") {
      sc.addSparkListener(new StageLog)
      val lpaStore = new LocalStore
      val (_, lpaSec) = timed(
        LabelPropagation.run(spark, edges, iters = 5, store = lpaStore))
      Thread.sleep(500)
      println(stepSummary("label_propagation_5",
        lpaSec - lpaStore.metrics.map(_.wallSec).sum, lpaStore.metrics))
    }
    spark.stop()
  }
}
