package graft.algos

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.LinkGraph
import graft.engine.{LocalStore, Superstep}

/** Strongly-connected components via iterative forward-coloring + backward
  * confirmation — the same Salihoglu-Widom "coloring" scheme the reference
  * implements (/root/reference/example_apps/stronglyconnectedcomponents.cpp:
  * 146-407: forward min/max color spread, backward confirm, peel, repeat),
  * expressed as nested BSP fixpoints:
  *
  *   while vertices remain:
  *     0. trim: vertices with no live in-edges or no live out-edges are
  *        singleton SCCs — peel them without any coloring (the "Trim" step
  *        of hybrid SCC algorithms, e.g. Slota et al.'s Multistep; removes
  *        the acyclic periphery — for provenance DAGs that is most of the
  *        graph — in cheap degree-filter rounds)
  *     1. forward fixpoint: color(v) = max id that reaches v (incl. self) —
  *        delta-iterated: only vertices whose color changed last round emit
  *        (the reference's own scheduler is selective,
  *        stronglyconnectedcomponents.cpp:146-407)
  *     2. roots: color(v) == v
  *     3. backward fixpoint within each color class from its root — the
  *        confirmed set is one SCC (labeled by its root id)
  *     4. peel confirmed vertices and their edges, repeat
  *
  * **Adversarial shapes and the driver finish.** A descending chain of SCCs
  * (ids decreasing along edges) defeats every BSP coloring scheme: the
  * global max colors the whole chain, so each peel confirms exactly one SCC
  * (O(#SCCs) peels), and the forward fixpoint itself needs O(diameter)
  * rounds. The standard hybrid answer (Multistep) is to finish small
  * remainders sequentially: once the live graph fits under
  * `driverFinishBelow` rows (vertices + edges), collect it and run
  * iterative Tarjan on the driver — a 2 M-row remainder is ~32 MB and
  * finishes in seconds, turning the chain worst case from O(#SCCs)
  * distributed peels into a bounded driver step. On a real cluster the
  * threshold is sized to driver memory; 0 disables the finish (pure
  * distributed peeling, used by the oracle gate so the BSP path stays
  * exercised).
  *
  * SCC labels are the max vertex id of each SCC — a canonical labeling,
  * exact-match testable against a Tarjan oracle (and identical between the
  * distributed and driver-finish paths).
  *
  * The trim, forward and backward fixpoints are [[Superstep.run]] loops
  * (frontier stop rule): a round is one superstep with no count or
  * checkpoint action of its own, and the round that leaves an empty
  * frontier ends the fixpoint.
  *
  * @param maxRounds peel-round budget (fail-loud)
  * @param driverFinishBelow collect-and-Tarjan threshold on remaining
  *   vertices+edges; 0 disables
  * @param maxInnerRounds superstep budget for each trim/forward/backward
  *   fixpoint — a high-diameter graph spins O(V) inner rounds with no loud
  *   failure otherwise (ADVICE r3); exceeded → exception naming the knob
  */
object SCC {

  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 50,
      driverFinishBelow: Long = 2000000L,
      maxInnerRounds: Int = 2000): DataFrame = {
    val parts = LinkGraph.partitions(spark)
    var liveEdges = edges.select("src", "dst").distinct().localCheckpoint(true)
    var live = LinkGraph.vertices(edges).localCheckpoint(true)
    var result: DataFrame = null
    var remaining = live.count()
    var liveEdgeCnt = liveEdges.count()
    var round = 0

    def addResult(df: DataFrame): Unit = {
      result = if (result == null) df else result.unionAll(df)
      result = result.localCheckpoint(true)
    }
    // one inner fixpoint on Superstep; its final state
    def fixpoint(phase: String, init: DataFrame)(
        step: DataFrame => DataFrame): DataFrame = {
      val res = Superstep.run(init, step, tol = 0.0, maxInnerRounds,
        new LocalStore)
      if (!res.converged) throw new IllegalStateException(
        s"SCC $phase fixpoint exceeded maxInnerRounds=$maxInnerRounds " +
          s"(high-diameter graph? raise maxInnerRounds or driverFinishBelow)")
      res.state
    }

    while (remaining > 0 && round < maxRounds) {
      // --- driver finish ------------------------------------------------
      if (driverFinishBelow > 0 && remaining + liveEdgeCnt <= driverFinishBelow) {
        addResult(tarjanFinish(spark, live, liveEdges, parts))
        remaining = 0
      } else {

      // --- 0. trim (delta-iterated) -------------------------------------
      // Peel the acyclic fringe as singleton SCCs — but NEVER recompute
      // degrees from the full edge set per round (round 4: the naive
      // hasIn/hasOut-distinct trim cost two full-E shuffles per round and
      // DOUBLED total SCC time at 176 M edges, 882 → 1684 s). Instead:
      // degrees once (two E-shuffles total), then each round decrements
      // only the neighbors of the just-peeled frontier — the same
      // changed-only pattern as CC/k-cores. A provenance DAG still drains
      // completely here in diameter rounds; each round's join work is
      // frontier-sized against the static partitioned edge views.
      // A long pure path would spin (one vertex per round) — the
      // maxInnerRounds budget fails loudly, and the driver finish above
      // absorbs any path that fits the threshold first.
      val tSrc = LinkGraph.edgeView(liveEdges, "src")
      val tDst = LinkGraph.edgeView(liveEdges, "dst")
      val inDeg = tDst.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).as("in"))
      val outDeg = tSrc.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("out"))
      // state (id, in, out, alive, delta), hash-partitioned on id: delta = 1
      // on live vertices with no live in- or out-edge, which the next round
      // peels (alive = false)
      def trimmed(in: Column, out: Column, alive: Column): Seq[Column] = Seq(
        in.as("in"), out.as("out"), alive.as("alive"),
        when(alive && (in === 0 || out === 0), 1.0).otherwise(0.0)
          .as("delta"))
      val trim = fixpoint("trim", live.join(inDeg, Seq("id"), "left")
          .join(outDeg, Seq("id"), "left")
          .select(col("id") +: trimmed(coalesce(col("in"), lit(0L)),
            coalesce(col("out"), lit(0L)), lit(true)): _*)
          .repartition(parts, col("id"))) { deg =>
        val peel = deg.filter(col("delta") > 0).select("id")
        // each peeled vertex kills its incident edges: decrement the other
        // endpoint's opposing degree (edges with both endpoints peeled
        // decrement a vertex that is already dead — harmless, it never
        // re-enters the frontier because only alive rows are flagged)
        val dIn = peel.join(tSrc, peel("id") === tSrc("src"))
          .groupBy(col("dst").as("id")).agg(count(lit(1)).as("din"))
        val dOut = peel.join(tDst, peel("id") === tDst("dst"))
          .groupBy(col("src").as("id")).agg(count(lit(1)).as("dout"))
        deg.join(dIn, Seq("id"), "left")
          .join(dOut, Seq("id"), "left")
          .select(col("id") +: trimmed(
            col("in") - coalesce(col("din"), lit(0L)),
            col("out") - coalesce(col("dout"), lit(0L)),
            col("alive") && col("delta") === 0): _*)
      }
      // lazy checkpoint: the count materializes it
      live = trim.filter(col("alive")).select("id").localCheckpoint(false)
      val left = live.count()
      if (left < remaining) {
        addResult(trim.filter(!col("alive"))
          .select(col("id"), col("id").as("scc")))
        remaining = left
        liveEdges = liveEdges
          .join(live.select(col("id").as("ls")),
            liveEdges("src") === col("ls"), "left_semi")
          .join(live.select(col("id").as("ld")),
            liveEdges("dst") === col("ld"), "left_semi")
          .localCheckpoint(true)
        liveEdgeCnt = liveEdges.count()
      }
      tSrc.unpersist(false); tDst.unpersist(false)
      // trim can drop the remainder under the driver-finish threshold
      if (driverFinishBelow > 0 && remaining > 0 &&
          remaining + liveEdgeCnt <= driverFinishBelow) {
        addResult(tarjanFinish(spark, live, liveEdges, parts))
        remaining = 0
      }
      if (remaining > 0) {
      // Static per-peel edge views, one per direction: every inner-round
      // join below then reuses the edge partitioning and shuffles only
      // frontier-sized data, instead of re-exchanging the full E-row side
      // each round.
      val eSrc = LinkGraph.edgeView(liveEdges, "src")
      val eDst = LinkGraph.edgeView(liveEdges, "dst")
      eSrc.count(); eDst.count()

      // --- 1. forward max-color fixpoint -------------------------------
      // Delta iteration (VERDICT r2 item 3): only vertices whose color
      // changed last round emit messages — the same changed-only frontier
      // CC uses. State (id, color, delta), hash-partitioned on id.
      val colors = fixpoint("forward", live
          .select(col("id"), col("id").as("color"), lit(1.0).as("delta"))
          .repartition(parts, col("id"))) { colors =>
        val msgs = colors.filter(col("delta") > 0)
          .join(eSrc, col("id") === eSrc("src"))
          .groupBy(col("dst")).agg(max(col("color")).as("mcolor"))
        colors.join(msgs, colors("id") === msgs("dst"), "left")
          .select(colors("id"),
            greatest(col("color"), coalesce(col("mcolor"), col("color")))
              .as("color"),
            when(coalesce(col("mcolor"), col("color")) > col("color"), 1.0)
              .otherwise(0.0).as("delta"))
      }

      // --- 2+3. backward confirmation within color classes --------------
      // Same delta-iterated state-update shape as the forward phase: the
      // confirmation state (id, color, scc, delta) stays hash-partitioned
      // on id across rounds (zero state re-exchange), only the frontier's
      // predecessor candidates shuffle, and the "already confirmed" check
      // is the scc column itself — no V-row visited-set anti-join per
      // round. Round 0's frontier is the roots, color(v) == v.
      val bstate = fixpoint("backward", colors.select(col("id"),
          col("color"), when(col("color") === col("id"), col("id")).as("scc"),
          when(col("color") === col("id"), 1.0).otherwise(0.0).as("delta"))
        ) { bstate =>
        // predecessor candidates of the newly-confirmed frontier
        val frontier = bstate.filter(col("delta") > 0)
        val cand = frontier.join(eDst, frontier("id") === eDst("dst"))
          .select(col("src").as("cid"), col("scc").as("cscc"))
          .distinct()
        // a predecessor joins the SCC iff its forward color equals the scc
        // root; at most one cand row can satisfy color === cscc per vertex
        bstate.join(cand,
          bstate("id") === col("cid") && bstate("color") === col("cscc"),
          "left")
          .select(bstate("id"), bstate("color"),
            coalesce(bstate("scc"), col("cscc")).as("scc"),
            when(bstate("scc").isNull && col("cscc").isNotNull, 1.0)
              .otherwise(0.0).as("delta"))
      }
      val inScc = bstate.filter(col("scc").isNotNull).select("id", "scc")
        .localCheckpoint(true)
      eSrc.unpersist(false); eDst.unpersist(false)

      addResult(inScc)

      // --- 4. peel ------------------------------------------------------
      live = live.join(inScc.select(col("id").as("did")),
        live("id") === col("did"), "left_anti").localCheckpoint(true)
      liveEdges = liveEdges
        .join(live.select(col("id").as("ls")), liveEdges("src") === col("ls"),
          "left_semi")
        .join(live.select(col("id").as("ld")), liveEdges("dst") === col("ld"),
          "left_semi")
        .localCheckpoint(true)
      remaining = live.count()
      liveEdgeCnt = liveEdges.count()
      } // if remaining > 0 (post-trim)
      } // else (no driver finish this round)
      round += 1
    }
    // A graph can need up to one round per SCC in the worst case (descending
    // chain); silently returning a partial labeling would be wrong (ADVICE
    // r1) — fail loudly instead.
    if (remaining > 0)
      throw new IllegalStateException(
        s"SCC peeling did not finish within $maxRounds rounds " +
          s"($remaining vertices unlabeled); raise maxRounds")
    if (result == null)
      live.select(col("id"), col("id").as("scc"))
    else result.select("id", "scc")
  }

  /** Collect the (small, thresholded) remaining live graph and label it with
    * iterative Tarjan on the driver — the sequential finish of hybrid SCC
    * (caller guarantees vertices+edges <= driverFinishBelow). Labels match
    * the distributed path: max member id per SCC.
    */
  private def tarjanFinish(spark: SparkSession, live: DataFrame,
      liveEdges: DataFrame, parts: Int): DataFrame = {
    val ids = live.select("id").collect().map(_.getLong(0)).sorted
    val n = ids.length
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx(ids(i)) = i; i += 1 }
    val rawEdges = liveEdges.select("src", "dst").collect()
    val m = rawEdges.length
    val esrc = new Array[Int](m)
    val edst = new Array[Int](m)
    i = 0
    while (i < m) {
      esrc(i) = idx(rawEdges(i).getLong(0))
      edst(i) = idx(rawEdges(i).getLong(1))
      i += 1
    }
    val label = tarjanMaxLabels(ids, esrc, edst)
    val rows = Array.tabulate(n)(j => (ids(j), label(j)))
    val sc = spark.sparkContext
    import spark.implicits._
    sc.parallelize(rows.toIndexedSeq, math.max(1, parts / 4)).toDF("id", "scc")
  }

  /** Iterative Tarjan over an index-compressed graph (explicit DFS + SCC
    * stacks, no recursion — safe at millions of vertices). Returns the max
    * ORIGINAL id of each vertex's SCC.
    */
  private[algos] def tarjanMaxLabels(ids: Array[Long], src: Array[Int],
      dst: Array[Int]): Array[Long] = {
    val n = ids.length
    val m = src.length
    // CSR adjacency
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < m) { off(src(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) { adj(fill(src(i))) = dst(i); fill(src(i)) += 1; i += 1 }

    val UNVISITED = -1
    val index = Array.fill(n)(UNVISITED)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val sccStack = new Array[Int](n); var sp = 0
    val workV = new Array[Int](n); val workE = new Array[Int](n); var wp = 0
    val label = new Array[Long](n)
    var counter = 0

    def push(v: Int): Unit = {
      workV(wp) = v; workE(wp) = off(v); wp += 1
      index(v) = counter; low(v) = counter; counter += 1
      sccStack(sp) = v; sp += 1; onStack(v) = true
    }

    var start = 0
    while (start < n) {
      if (index(start) == UNVISITED) {
        push(start)
        while (wp > 0) {
          val v = workV(wp - 1)
          if (workE(wp - 1) < off(v + 1)) {
            val w = adj(workE(wp - 1)); workE(wp - 1) += 1
            if (index(w) == UNVISITED) push(w)
            else if (onStack(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            wp -= 1
            if (wp > 0) {
              val p = workV(wp - 1)
              if (low(v) < low(p)) low(p) = low(v)
            }
            if (low(v) == index(v)) {
              var boundary = sp - 1
              while (sccStack(boundary) != v) boundary -= 1
              var maxId = Long.MinValue
              var j = boundary
              while (j < sp) {
                if (ids(sccStack(j)) > maxId) maxId = ids(sccStack(j)); j += 1
              }
              j = boundary
              while (j < sp) {
                label(sccStack(j)) = maxId; onStack(sccStack(j)) = false
                j += 1
              }
              sp = boundary
            }
          }
        }
      }
      start += 1
    }
    label
  }
}
