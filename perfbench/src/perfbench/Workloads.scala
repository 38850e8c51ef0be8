package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.core.LinkGraph
import graft.derive.{CodeLakehouse, EdgeDerive}
import graft.engine.{DurableStore, LocalStore}
import graft.frap.{Frap, FrapPipeline, Kernels, ProvGen, WLRelabel}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val listener: BenchListener, val seed: Long, val work: Path) {

  /** Unpersist every RDD cached since `before` was taken; the bytes they
    * held in memory are returned (what a call left behind).
    */
  def dropCachesSince(before: Set[Int]): Long = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val held = listener.storedBytes
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    held - listener.storedBytes
  }

  def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}

/** One solve's record: the timed operations (seconds, by metric name),
  * the counts it produced, and every reference mismatch.
  */
final class Solve {
  val ops = mutable.LinkedHashMap.empty[String, Double]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  val stores = mutable.ArrayBuffer.empty[(String, TracingStore)]
  def check(ok: Boolean, what: => String): Unit = if (!ok) errors += what
}

/** A piece of a workload: inputs made from the seed and cached by
  * `setup` (which must drop the previous ones), a reference built from them,
  * and the timed operations of one solve.
  */
abstract class Part(val ctx: Ctx) {
  def setup(): Unit = ()
  /** Untimed: build whatever the reference checks need. */
  def prepareReference(): Unit = ()
  def solve(s: Solve): Unit = ()
  /** (store key, edges) when every superstep of that store's loop scans
    * all of these edges; gives `superstep_eps`.
    */
  def fullScan: Option[(String, Long)] = None

  protected def spark: SparkSession = ctx.spark

  /** Time one operation of a solve as metric `metric`, inside span `span`. */
  protected def op[A](s: Solve, metric: String, span: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = ctx.tracer.span(span)(body)
    s.ops(metric) = s.ops.getOrElse(metric, 0.0) + (System.nanoTime() - t0) / 1e9
    a
  }

  protected def cached(span: String)(df: => DataFrame): DataFrame =
    ctx.tracer.span(span) {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
}

/** A workload: parts set up in order, then solved in order, over and over
  * in a closed loop.
  */
final class Workload(val name: String, val parts: Seq[Part]) {
  def setup(): Unit = parts.foreach(_.setup())
  def prepareReference(): Unit = parts.foreach(_.prepareReference())
  def solve(s: Solve): Unit = parts.foreach(_.solve(s))
}

/** The code-lakehouse graph: generated files → derived edges, cached. */
final class Lakehouse(ctx: Ctx, nFiles: Long) extends Part(ctx) {
  var edges: DataFrame = _
  var graph: Reference.Graph = _

  override def setup(): Unit = {
    if (edges != null) edges.unpersist(true)
    val files = cached("derive.CodeLakehouse.table")(
      CodeLakehouse.table(spark, nFiles, ctx.seed))
    val cat = cached("derive.EdgeDerive.catalog")(EdgeDerive.catalog(files))
    edges = cached("derive.EdgeDerive.edges")(EdgeDerive.edges(files, cat))
    files.unpersist(true)
    cat.unpersist(true)
  }

  override def prepareReference(): Unit = graph = Reference.collect(edges)
}

/** PageRank to max-Δ ≤ 1e-6 on a [[LocalStore]], against the CSR replica. */
final class PagerankPart(ctx: Ctx, lh: Lakehouse) extends Part(ctx) {
  private val refByStep = mutable.Map.empty[Int, (Array[Double], Double)]
  val refStepWalls = mutable.ArrayBuffer.empty[Double]
  override def fullScan: Option[(String, Long)] = Some("pagerank" -> lh.graph.m.toLong)

  override def solve(s: Solve): Unit = {
    val g = lh.graph
    val store = new TracingStore(new LocalStore, ctx.tracer)
    s.stores += "pagerank" -> store
    val res = op(s, "pagerank_s", "algos.PageRank.run")(
      PageRank.run(spark, lh.edges, tol = 1e-6, maxIters = 200, store = store))
    s.counts("pagerank_supersteps") = res.supersteps
    s.check(res.converged, "pagerank did not converge")
    val (want, wall) = refByStep.getOrElseUpdate(res.supersteps,
      Reference.pagerank(g, res.supersteps))
    refStepWalls += wall
    val got = res.state.select("id", "rank").collect()
    s.check(got.length == g.n, s"pagerank: ${got.length} ranks for ${g.n} vertices")
    val bad = got.count(r => math.abs(r.getDouble(1) - want(g.index(r.getLong(0)))) > 1e-6)
    s.check(bad == 0, s"pagerank: $bad ranks differ from the CSR reference by > 1e-6")
  }
}

/** Connected components on a [[DurableStore]], stopped after [[StopAfter]]
  * supersteps and resumed by a fresh run from the manifest to the fixpoint.
  * The resumed labels are checked against union-find, which the
  * self-tests check against an uninterrupted run.
  */
final class ComponentsPart(ctx: Ctx, lh: Lakehouse) extends Part(ctx) {
  val StopAfter = 3
  private var want: Array[Long] = _
  private var solves = 0

  override def prepareReference(): Unit = want = Reference.components(lh.graph)

  override def solve(s: Solve): Unit = {
    solves += 1
    val dir = ctx.work.resolve(s"durable-$solves")
    def cc(stop: Int) = {
      val st = new TracingStore(new DurableStore(spark, dir.toString), ctx.tracer, stop)
      s.stores += (if (stop > 0) "cc_stopped" else "cc_resume") -> st
      ConnectedComponents.run(spark, lh.edges, maxIters = 100, store = st)
    }
    try {
      val before = ctx.cachedIds
      val stoppedAt = op(s, "cc_stopped_s", "algos.ConnectedComponents.run[stopped]") {
        try { cc(StopAfter).supersteps } catch { case TracingStore.Stopped(i) => i }
      }
      ctx.dropCachesSince(before) // the killed run never unpersisted its prep
      s.check(stoppedAt == StopAfter, s"cc run was not stopped after superstep $StopAfter")
      val res = op(s, "resume_s", "algos.ConnectedComponents.run[resume]")(cc(0))
      s.counts("cc_supersteps") = res.supersteps
      s.check(res.converged, "resumed cc did not converge")
      val got = new Array[Long](lh.graph.n)
      res.state.select("id", "label").collect()
        .foreach(r => got(lh.graph.index(r.getLong(0))) = r.getLong(1))
      s.check(got.sameElements(want), "resumed cc labels differ from union-find")
      // the engine sizes part files only for a bare DurableStore; measure here
      val tables = Files.list(dir.resolve("state")).iterator().asScala.toSeq
      s.counts("cc_checkpoint_bytes") =
        tables.map(t => Files.walk(t).iterator().asScala.map(Files.size).sum).sum.toDouble /
          tables.size
    } finally ctx.deleteTree(dir)
  }
}

/** TPC-H link graph: 5 LPA rounds and the triangle total, against the LPA
  * replica and the oriented-intersection count.
  */
final class LabelsPart(ctx: Ctx, sf: Double) extends Part(ctx) {
  val Rounds = 5
  private val dir = ctx.work.resolve(s"tpch-${ctx.seed}")
  var edges: DataFrame = _
  private var graph: Reference.Graph = _
  private var wantLabels: Array[Long] = _
  private var wantTriangles = 0L
  override def fullScan: Option[(String, Long)] = Some("lpa" -> graph.undNbr.length.toLong)

  override def setup(): Unit = {
    if (edges != null) edges.unpersist(true)
    ctx.tracer.span("inputs.tpch")(
      Inputs.writeTpch(spark, dir.toString, sf, ctx.seed))
    edges = cached("core.LinkGraph.edges")(LinkGraph.edges(spark, dir.toString))
  }

  override def prepareReference(): Unit = {
    graph = Reference.collect(edges)
    wantLabels = Reference.labelPropagation(graph, Rounds)
    wantTriangles = Reference.triangles(graph)
  }

  override def solve(s: Solve): Unit = {
    val store = new TracingStore(new LocalStore, ctx.tracer)
    s.stores += "lpa" -> store
    val res = op(s, "lpa_s", "algos.LabelPropagation.run")(
      LabelPropagation.run(spark, edges, iters = Rounds, store = store))
    val got = new Array[Long](graph.n)
    res.state.select("id", "label").collect()
      .foreach(r => got(graph.index(r.getLong(0))) = r.getLong(1))
    s.check(got.sameElements(wantLabels), "lpa labels differ from the reference")

    val before = ctx.cachedIds
    val tri = op(s, "triangles_s", "algos.TriangleCount.total")(
      TriangleCount.total(spark, edges).collect()(0).getLong(0))
    s.counts("triangles_retained_bytes") = ctx.dropCachesSince(before).toDouble
    s.check(tri == wantTriangles, s"triangles: got $tri, want $wantTriangles")
  }
}

/** FRAP: learn a profile from normal provenance graphs, then monitor a
  * batch with planted abnormal graphs; every verdict must match its plant.
  */
final class FrapPart(ctx: Ctx, nLearn: Int, nNormal: Int, nBad: Int)
    extends Part(ctx) {
  val WlRounds = 2
  private val learnIds = (0 until nLearn).map(i => f"normal-$i%03d")
  var learn: DataFrame = _
  var batch: DataFrame = _

  override def setup(): Unit = {
    Seq(learn, batch).filter(_ != null).foreach(_.unpersist(true))
    learn = cached("frap.ProvGen.corpus[learn]")(
      ProvGen.corpus(spark, nLearn, 0, seed = ctx.seed))
    batch = cached("frap.ProvGen.corpus[batch]")(
      ProvGen.corpus(spark, nNormal, nBad, seed = ctx.seed * 31 + 1000003))
  }

  override def solve(s: Solve): Unit = {
    val before = ctx.cachedIds
    try {
      val (profile, dict, dictSize) = op(s, "frap_learn_s", "frap.learn") {
        val wl = ctx.tracer.span("frap.WLRelabel.run")(WLRelabel.run(learn, WlRounds))
        val (counts, dict, dictSize, arrays) = ctx.tracer.span("frap.kernels") {
          val counts = WLRelabel.kernelCounts(wl).persist(StorageLevel.MEMORY_AND_DISK)
          val dict = Kernels.dictionary(counts).persist(StorageLevel.MEMORY_AND_DISK)
          val dictSize = dict.count().toInt
          val arrays = Kernels.countArrays(counts, dict, dictSize).collect()
            .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
          (counts, dict, dictSize, arrays)
        }
        val dm = ctx.tracer.span("frap.Kernels.klMatrix") {
          Kernels.klMatrix(counts.join(dict.select("label"), "label"), dictSize)
            .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
            .toMap
        }
        val profile = ctx.tracer.span("frap.Frap.learnProfileFromDistances") {
          // the pairwise order and 1e-9 grid of FrapPipeline.run
          def d(a: String, b: String) =
            math.rint((if (a < b) dm((a, b)) else dm((b, a))) * 1e9) / 1e9
          val flat = (for (i <- learnIds.indices; j <- 1 until learnIds.size - i)
            yield d(learnIds(i), learnIds(i + j))).toVector
          Frap.learnProfileFromDistances(learnIds.map(arrays).toVector, flat)
        }
        (profile, dict, dictSize)
      }
      s.counts("frap_dict_size") = dictSize
      val verdicts = op(s, "frap_monitor_s", "frap.monitor") {
        val wl = ctx.tracer.span("frap.WLRelabel.run")(WLRelabel.run(batch, WlRounds))
        ctx.tracer.span("frap.FrapPipeline.monitorAtScale")(
          FrapPipeline.monitorAtScale(spark, WLRelabel.kernelCounts(wl),
            profile, dict, dictSize).collect()
            .map(r => r.getString(0) -> r.getBoolean(1)).toMap)
      }
      s.check(verdicts.size == nNormal + nBad,
        s"frap: ${verdicts.size} verdicts for ${nNormal + nBad} graphs")
      val wrong = verdicts.count { case (g, within) => within == g.startsWith("bad-") }
      s.check(wrong == 0, s"frap: $wrong verdicts differ from the planted labels")
    } finally ctx.dropCachesSince(before)
  }
}
