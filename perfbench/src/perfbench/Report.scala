package perfbench

import scala.collection.mutable

/** One solve as the harness saw it: the workload's record, the storage
  * memory held when it started and at its peak, and its root span when it
  * was traced.
  */
final case class Run(solve: Solve, baseBytes: Long, peakBytes: Long,
    root: Option[Span]) {
  /** The solve's time: its timed operations, not the reference checks. */
  def wall: Double = solve.ops.values.sum
}

/** Turns runs, spans and listener counts into named metrics
  * (name, value, unit).
  */
final class Report(w: Workload, tracer: Tracer, listener: BenchListener, k: Int) {
  import Main.MB
  type Row = (String, Double, String)

  private val kids: Map[Int, Seq[Span]] = tracer.spans.toSeq.groupBy(_.parent)
  private val self: Map[Int, Long] = Span.selfTimes(tracer.spans.toSeq)
  private def dur(s: Span) = (s.end - s.start) / 1e9
  private def below(s: Span): Seq[Span] =
    kids.getOrElse(s.id, Nil).flatMap(c => c +: below(c))

  /** Listener counts of `s` alone, or of its whole subtree. */
  private def own(s: Span): Counts =
    listener.groups.getOrElse(tracer.group(s), new Counts)
  private def incl(ss: Seq[Span]): Counts = {
    val c = new Counts
    ss.flatMap(s => s +: below(s)).distinct.foreach(x => c.add(own(x)))
    c
  }

  /** Seconds of `s` during which some Spark job was running. */
  private def jobSeconds(ss: Seq[Span]): Double = {
    val off = tracer.epochOffsetNs
    val jobs = listener.jobIntervals.toSeq
      .map { case (a, b) => (a * 1000000L - off, b * 1000000L - off) }
    ss.map(s => Span.covered(jobs, s.start, s.end)).sum / 1e9
  }

  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** Every end-to-end number of the untraced runs, named as in the README. */
  def endToEnd(setups: Seq[Double], coldSetup: Double, firstSolve: Double, runs: Seq[Run],
      failed: Int, attempted: Int): Seq[Row] = {
    val opNames = runs.flatMap(_.solve.ops.keys).distinct
    val countNames = runs.flatMap(_.solve.counts.keys).distinct
      .filterNot(_.endsWith("_bytes"))
    val eps = w.parts.flatMap(_.fullScan).map { case (key, e) =>
      val walls = runs.flatMap(_.solve.stores.filter(_._1 == key)
        .flatMap(_._2.steps.map(_.wallSec)))
      ("superstep_eps", e / med(walls), "edges/s")
    }
    Seq(("setup_s", med(setups), "s"), ("setup_cold_s", coldSetup, "s")) ++
      opNames.map(n => (n, med(runs.flatMap(_.solve.ops.get(n))), "s")) ++
      countNames.map(n => (n, med(runs.flatMap(_.solve.counts.get(n))), "count")) ++
      eps ++ Seq(
        ("solve_s", med(runs.map(_.wall)), "s"),
        ("solve_first_s", firstSolve, "s"),
        ("cached_mb", med(runs.map(_.peakBytes / MB)), "MB"),
        ("failed_frac", failed.toDouble / attempted, "ratio"),
        ("samples", runs.size.toDouble, "count"))
  }

  /** The generic per-layer split every workload reports (BENCHMARK.json
    * `per_layer`): Spark work under the solve's timed operations, set-up
    * work, and the tracing overhead.
    */
  def perLayer(setupRoots: Seq[Span], traced: Seq[Run], untraced: Seq[Run]): Seq[Row] = {
    val per = traced.map { r =>
      val ops = kids.getOrElse(r.root.get.id, Nil)
      val c = incl(ops)
      val wall = ops.map(dur).sum
      val jobS = jobSeconds(ops)
      Map(
        "jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble,
        "job_s" -> jobS, "driver_s" -> (wall - jobS),
        "exec_cpu_s" -> c.execCpuNs / 1e9,
        "cpu_util" -> c.execCpuNs / 1e9 / (wall * k),
        "gc_s" -> c.gcMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWriteBytes / MB,
        "shuffle_read_mb" -> c.shuffleReadBytes / MB,
        "shuffle_write_s" -> c.shuffleWriteNs / 1e9,
        "task_skew" -> c.taskSkew)
    }
    val units = Seq("jobs" -> "count", "tasks" -> "count", "job_s" -> "s",
      "driver_s" -> "s", "exec_cpu_s" -> "s", "cpu_util" -> "ratio",
      "gc_s" -> "s", "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB",
      "shuffle_write_s" -> "s", "task_skew" -> "ratio")
    val setup = setupRoots.map(s => incl(Seq(s)))
    units.map { case (n, u) => (s"solve.$n", med(per.map(_(n))), u) } ++ Seq(
      ("setup.jobs", med(setup.map(_.jobs.toDouble)), "count"),
      ("setup.shuffle_write_mb", med(setup.map(_.shuffleWriteBytes / MB)), "MB"),
      ("setup.exec_cpu_s", med(setup.map(_.execCpuNs / 1e9)), "s"),
      ("trace.overhead_frac",
        med(traced.map(_.wall)) / med(untraced.map(_.wall)) - 1, "ratio"))
  }

  /** The workload-specific layer metrics, named as in the benchmark's doc. */
  def detail(setupRoots: Seq[Span], traced: Seq[Run]): Seq[Row] = {
    def named(roots: Seq[Span], name: String) =
      roots.map(r => below(r).filter(_.name == name))
    def secs(roots: Seq[Span], name: String) =
      med(named(roots, name).map(_.map(dur).sum))
    def counted(roots: Seq[Span], names: Seq[String], f: Counts => Double) =
      med(roots.map(r => f(incl(below(r).filter(s => names.contains(s.name))))))
    val setups = setupRoots
    val solves = traced.flatMap(_.root)

    val setupRows: Seq[Row] = w.parts.flatMap {
      case _: Lakehouse =>
        val derive = Seq("derive.EdgeDerive.catalog", "derive.EdgeDerive.edges")
        Seq(("derive.lakehouse_s", secs(setups, "derive.CodeLakehouse.table"), "s"),
          ("derive.catalog_s", secs(setups, derive(0)), "s"),
          ("derive.edges_s", secs(setups, derive(1)), "s"),
          ("derive.shuffle_write_mb", counted(setups, derive, _.shuffleWriteBytes / MB), "MB"),
          ("derive.spill_mb", counted(setups, derive, _.spillBytes / MB), "MB"))
      case _: LabelsPart =>
        Seq(("core.tpch_write_s", secs(setups, "inputs.tpch"), "s"),
          ("core.linkgraph_s", secs(setups, "core.LinkGraph.edges"), "s"),
          ("core.shuffle_write_mb",
            counted(setups, Seq("core.LinkGraph.edges"), _.shuffleWriteBytes / MB), "MB"))
      case _ => Nil
    }

    /** The loop layer of every traced solve's stores `keys`, run inside
      * the operation spans `opNames`.
      */
    def loop(algo: String, keys: Seq[String], opNames: Seq[String]): Seq[Row] = {
      val stores = traced.flatMap(_.solve.stores.filter(st => keys.contains(st._1)).map(_._2))
      val opSpans = opNames.flatMap(named(solves, _).flatten)
      if (stores.isEmpty || opSpans.isEmpty) return Nil
      val steps = stores.flatMap(_.stepSpans)
      val firsts = stores.flatMap(_.stepSpans.headOption)
      val later = stores.flatMap(_.stepSpans.drop(1))
      val sc = steps.map(s => incl(Seq(s)))
      val wall = steps.map(dur)
      val prepCounts = opSpans.map(own)
      val e = s"engine.$algo"
      Seq(
        (s"algos.$algo.prep_s", med(opSpans.map(s => self(s.id) / 1e9)), "s"),
        (s"algos.$algo.prep_shuffle_write_mb",
          med(prepCounts.map(_.shuffleWriteBytes / MB)), "MB"),
        (s"$e.superstep_s", med(later.map(dur)), "s"),
        (s"$e.superstep_first_s", med(firsts.map(dur)), "s"),
        (s"$e.jobs_per_superstep", med(sc.map(_.jobs.toDouble)), "count"),
        (s"$e.driver_s", med(steps.map(s => dur(s) - jobSeconds(Seq(s)))), "s"),
        (s"$e.frontier_frac",
          med(stores.flatMap(_.steps.map(m => m.active.toDouble / math.max(m.rows, 1)))),
          "ratio"),
        (s"$e.shuffle_write_mb", med(sc.map(_.shuffleWriteBytes / MB)), "MB"),
        (s"$e.shuffle_read_mb", med(sc.map(_.shuffleReadBytes / MB)), "MB"),
        (s"$e.shuffle_write_s", med(sc.map(_.shuffleWriteNs / 1e9)), "s"),
        (s"$e.fetch_wait_s", med(sc.map(_.fetchWaitMs / 1e3)), "s"),
        (s"$e.exec_cpu_s", med(sc.map(_.execCpuNs / 1e9)), "s"),
        (s"$e.cpu_util", sc.map(_.execCpuNs / 1e9).sum / (wall.sum * k), "ratio"),
        (s"$e.gc_s", med(sc.map(_.gcMs / 1e3)), "s"),
        (s"$e.task_skew", med(sc.map(_.taskSkew)), "ratio"))
    }

    val solveRows: Seq[Row] = w.parts.flatMap {
      case p: PagerankPart =>
        val rows = loop("pagerank", Seq("pagerank"), Seq("algos.PageRank.run"))
        val ref = med(p.refStepWalls.toSeq)
        val engine = rows.find(_._1 == "engine.pagerank.superstep_s").map(_._2)
          .getOrElse(Double.NaN)
        rows ++ Seq(("ref.csr_superstep_s", ref, "s"), ("ref.floor_ratio", engine / ref, "ratio"))
      case _: ComponentsPart =>
        val stopped = traced.flatMap(_.solve.stores.filter(_._1 == "cc_stopped").map(_._2))
        val resumed = traced.flatMap(_.solve.stores.filter(_._1 == "cc_resume").map(_._2))
        val all = stopped ++ resumed
        loop("cc", Seq("cc_stopped", "cc_resume"), Seq(
          "algos.ConnectedComponents.run[stopped]",
          "algos.ConnectedComponents.run[resume]")) ++ Seq(
          ("engine.cc.persist_s", med(all.flatMap(st =>
            st.persistWalls.takeRight(st.steps.size))), "s"),
          ("engine.cc.converge_s", med(all.flatMap(st =>
            st.steps.zip(st.persistWalls.takeRight(st.steps.size))
              .map { case (m, p) => m.wallSec - p })), "s"),
          ("engine.cc.checkpoint_mb",
            med(traced.flatMap(_.solve.counts.get("cc_checkpoint_bytes")).map(_ / MB)), "MB"),
          ("engine.cc.resume_load_s", med(resumed.map(_.resumeNs / 1e9)), "s"))
      case _: LabelsPart =>
        val tri = Seq("algos.TriangleCount.total")
        loop("lpa", Seq("lpa"), Seq("algos.LabelPropagation.run")) ++ Seq(
          ("algos.triangles.shuffle_write_mb",
            counted(solves, tri, _.shuffleWriteBytes / MB), "MB"),
          ("algos.triangles.spill_mb", counted(solves, tri, _.spillBytes / MB), "MB"),
          ("algos.triangles.task_skew", counted(solves, tri, _.taskSkew), "ratio"),
          ("algos.triangles.retained_cache_mb",
            med(traced.flatMap(_.solve.counts.get("triangles_retained_bytes")).map(_ / MB)),
            "MB"))
      case _: FrapPart =>
        Seq(("frap.wl_s", secs(solves, "frap.WLRelabel.run"), "s"),
          ("frap.wl_jobs", counted(solves, Seq("frap.WLRelabel.run"), _.jobs.toDouble), "count"),
          ("frap.kernels_s", secs(solves, "frap.kernels"), "s"),
          ("frap.distances_s", secs(solves, "frap.Kernels.klMatrix"), "s"),
          ("frap.cluster_s", secs(solves, "frap.Frap.learnProfileFromDistances"), "s"),
          ("frap.monitor_dist_s", secs(solves, "frap.FrapPipeline.monitorAtScale"), "s"),
          ("frap.dict_size",
            med(traced.flatMap(_.solve.counts.get("frap_dict_size"))), "count"))
      case _ => Nil
    }
    val cachedRow = ("algos.prep.cached_mb",
      med(traced.map(r => (r.peakBytes - r.baseBytes) / MB)), "MB")
    setupRows ++ solveRows :+ cachedRow
  }

  /** Checks that a solve's op spans are exactly covered by their parts:
    * each op's self time plus its children's durations is its duration,
    * and children never overlap. Returns the worst error in seconds.
    */
  def spanArithmeticError(traced: Seq[Run]): Double =
    traced.flatMap(_.root).flatMap(r => r +: below(r)).map { s =>
      val c = kids.getOrElse(s.id, Nil)
      val parts = self(s.id) + c.map(x => x.end - x.start).sum
      math.abs(parts - (s.end - s.start)) / 1e9
    }.foldLeft(0.0)(math.max)

  def traceJson(env: Seq[(String, String)], rows: Seq[Row], spanError: Double): String = {
    val e = env.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val m = rows.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}""" }.mkString("{\n", ",\n", "\n}")
    s"""{"env":$e,\n"span_arithmetic_error_s":$spanError,\n"metrics":$m,\n""" +
      s""""spans":${tracer.toJson(listener)}}""" + "\n"
  }
}
