package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The repository benchmark: one process, one `local[k]` session, one
  * client issuing solves back to back (a closed loop) after set-up and
  * warm-up. Every solve is checked against a single-threaded reference.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--work <dir>]
  *
  * The last stdout line is the JSON result. With `--trace 1` solves
  * alternate between untraced and traced, the per-layer metrics come from
  * the traced ones, and the spans are written to `<work>/trace-*.json`.
  */
object Main {

  val SetupReps = 3
  val WarmupSolves = 1
  val MinSolves = 1
  val MaxSolves = 60
  val MB = 1024.0 * 1024.0

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", Paths.get(kv.getOrElse("--work", ".bench_work")))
  }

  /** `Bench.session`'s settings, except that every local directory is in
    * `work` and there are 2·k shuffle partitions instead of 32: at these
    * input sizes a superstep's cost is mostly per task, and 32 partitions on
    * k = 4 threads made a PageRank solve 1.8x as long (4-core VM).
    */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrator", "graft.plans.GraftKryoRegistrator")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def gitHead(): String =
    try {
      val head = Files.readString(Paths.get(".git/HEAD")).trim
      if (!head.startsWith("ref: ")) head
      else Files.readString(Paths.get(".git", head.drop(5))).trim
    } catch { case _: Throwable => "unknown" }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "lakehouse" =>
      val lh = new Lakehouse(ctx, nFiles = 10000)
      new Workload(name, Seq(lh, new PagerankPart(ctx, lh), new ComponentsPart(ctx, lh)))
    case "tpch-frap" =>
      new Workload(name, Seq(new LabelsPart(ctx, sf = 0.003),
        new FrapPart(ctx, nLearn = 20, nNormal = 40, nBad = 5)))
    case other => sys.error(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    val k = math.min(4, nproc)
    val load0 = loadAvg()
    Files.createDirectories(args.work)
    val spark = session(k, args.work)
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, listener, args.seed, args.work)
    val w = workload(args.workload, ctx)
    val drain = () => org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    try {
      tracer.enabled = args.trace
      val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
      val setupRoots = mutable.ArrayBuffer.empty[Span]
      var coldSetup = 0.0
      val setups = (1 to SetupReps).map { r =>
        val t0 = System.nanoTime()
        val sp = if (tracer.enabled) Some(tracer.open("setup")) else None
        w.setup()
        sp.foreach { s => tracer.close(s); setupRoots += s }
        if (r == 1) coldSetup = (System.currentTimeMillis() - processStart) / 1e3
        (System.nanoTime() - t0) / 1e9
      }
      w.prepareReference()
      drain()
      val baseline = ctx.cachedIds

      val solves = mutable.ArrayBuffer.empty[Run]
      def runSolve(traced: Boolean): Unit = {
        tracer.enabled = traced
        drain()
        listener.resetPeak()
        val base = listener.storedBytes
        val s = new Solve
        val root = if (traced) Some(tracer.open("solve")) else None
        try w.solve(s)
        catch { case e: Throwable => s.errors += s"threw ${e.getClass.getName}: ${e.getMessage}" }
        root.foreach(tracer.close)
        tracer.enabled = false
        drain()
        val peak = listener.peakBytes
        ctx.dropCachesSince(baseline)
        s.errors.foreach(e => System.err.println(s"[${w.name}] FAILED: $e"))
        solves += Run(s, base, peak, root)
        System.err.println(f"[${w.name}] solve ${solves.size} traced=$traced ${solves.last.wall}%.3f s " +
          s.ops.map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))
      }
      (1 to WarmupSolves).foreach(_ => runSolve(traced = false))
      val warm = solves.size
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = 0
      while (i < (if (args.trace) 2 * MinSolves else MinSolves) ||
          (elapsed < args.seconds && i < MaxSolves)) {
        runSolve(traced = args.trace && i % 2 == 1)
        i += 1
      }
      val measured = solves.drop(warm).toSeq
      val untraced = measured.filter(_.root.isEmpty)
      val failed = solves.count(_.solve.errors.nonEmpty)
      val load1 = loadAvg()

      val env = Seq(
        "nproc" -> nproc.toString, "k" -> k.toString,
        "loadavg_before" -> load0.toString, "loadavg_after" -> load1.toString,
        "heap_max_mb" -> (Runtime.getRuntime.maxMemory / MB).round.toString,
        "spark_version" -> s""""${spark.version}"""",
        "git_head" -> s""""${gitHead()}"""",
        "warm_solves" -> warm.toString, "measured_solves" -> measured.size.toString,
        "untraced_solves" -> untraced.size.toString)
      println(env.map { case (k, v) => s""""$k":$v""" }.mkString("env {", ",", "}"))

      val report = new Report(w, tracer, listener, k)
      val e2e = report.endToEnd(setups, coldSetup, solves.head.wall, untraced, failed, solves.size)
      e2e.foreach { case (n, v, u) => println(f"metric $n%-28s $v%.6f $u") }
      val metrics: Seq[(String, Double, String)] =
        if (!args.trace)
          Seq(("setup_s", Stats.median(setups), "s"),
            ("solve_s", Stats.median(untraced.map(_.wall)), "s"),
            ("cached_mb", Stats.median(untraced.map(_.peakBytes / MB)), "MB"))
        else {
          val traced = measured.filter(_.root.nonEmpty)
          val layers = report.perLayer(setupRoots.toSeq, traced, untraced)
          val detail = report.detail(setupRoots.toSeq, traced)
          (layers ++ detail).foreach { case (n, v, u) => println(f"layer  $n%-34s $v%.6f $u") }
          val spanError = report.spanArithmeticError(traced)
          println(f"span arithmetic error (self + children - span, worst) $spanError%.3e s")
          val out = args.work.resolve(s"trace-${w.name}-seed${args.seed}.json")
          Files.writeString(out, report.traceJson(env, e2e ++ layers ++ detail, spanError))
          println(s"trace written to $out")
          layers
        }
      val body = metrics.map { case (n, v, u) =>
        s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
      println(s"""{"correct":${failed == 0},"attempted":${solves.size},""" +
        s""""failed":$failed,"metrics":{$body}}""")
    } finally spark.stop()
  }
}
