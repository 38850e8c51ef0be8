package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.DoubleType
import graft.vectors.Scan

/** BSP superstep driver. The reference's iteration loop
  * (/root/reference/src/engine/graphchi_engine.hpp:779-959) re-expressed for
  * Spark: each superstep is a pure function `state => nextState`, the driver
  * persists the new state (lineage truncation — replacing GraphChi's
  * mutate-in-place shards), takes its convergence signal from the one job
  * that materializes it, records per-superstep metrics (the `.deltalog`
  * analog, graphchi_engine.hpp:593-599), and stops when converged. Supports
  * resume-from-manifest via [[DurableStore]].
  *
  * Convention: the state carries its own convergence signal as a double
  * `delta` column (the reference's `ctx.log_change`,
  * graphchi_context.hpp:78-105). Each superstep folds
  * `(max(delta), count(delta > tol), count(*))` over the persisted rows in
  * the job that computes them, as GraphChi logs its changes in the pass
  * that updates the vertices; `active` doubles as the frontier size,
  * mirroring the bitset scheduler (bitset_scheduler.hpp:38-104). Stop rules:
  *   - max-Δ (`tol >= 0`, `delta` = per-row |change|): PageRank.
  *   - empty frontier (`tol = 0`, `delta` = 1 exactly on the rows the next
  *     step acts on, else 0; a step reads its frontier as
  *     `state.filter(delta > 0)`): CC, LPA, k-cores, SSSP, k-hop, landmark
  *     BFS, Luby MIS, Jones–Plassmann coloring, decremental k-truss, and
  *     SCC's trim, forward-colour and backward-confirm fixpoints.
  *   - fixed rounds (`tol < 0`, `delta` informational): exactly `maxIters`
  *     supersteps — HITS, seeded LPA, PageRank.fixedIterations.
  * A step only builds a plan; its static inputs are `persist()` caches
  * declared before the loop, laid out by [[graft.core.LinkGraph.edgeView]]
  * where the loop joins on an edge key. A scatter join of the state with
  * such a view takes the view through [[graft.core.LinkGraph.scatterView]],
  * which keeps the join exchange-free when the state is laid out like the
  * view instead of broadcasting the view again every superstep.
  *
  * Flag rows, don't drop them: a loop that accumulates an output (MIS
  * members, colours, trimmed SCC singletons) keeps it as a column of the
  * one state frame — a finished row stays with `delta` 0 and its result
  * column set — and reads the output as a filter of the final state. A
  * second frame would need its own checkpoint and count per round.
  */
object Superstep {

  final case class RunResult(
      state: DataFrame,
      supersteps: Int,
      converged: Boolean,
      metrics: Seq[SuperstepMetrics])

  /** Iterate from `init` until `max(delta) <= tol` or `maxIters` supersteps.
    *
    * @param init     iteration-0 state; must contain a double `delta` column
    * @param step     (state, iter) => next state (same schema); iter from 1
    * @param tol      stop when max(delta) <= tol
    * @param maxIters superstep cap
    * @param store    persistence/metrics backend
    */
  def run(
      init: DataFrame,
      step: (DataFrame, Int) => DataFrame,
      tol: Double,
      maxIters: Int,
      store: StateStore): RunResult = {

    val collected = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetrics]

    val (startIter, initState) = store.resumePoint() match {
      case Some((iter, st)) => (iter + 1, st)
      case None             => (1, store.persist(init, 0))
    }

    var state = initState
    var iter = startIter
    var converged = false
    while (iter <= maxIters && !converged) {
      val t0 = System.nanoTime()
      val next = store.persist(step(state, iter), iter)
      val (maxDelta, active, rows) = stats(next, tol)
      val wall = (System.nanoTime() - t0) / 1e9
      val parts = store.partitionMetrics(iter)
      val m = SuperstepMetrics(
        iter, rows, parts.map(_.bytes).sum, maxDelta, active, wall, parts)
      store.log(m)
      collected += m
      store.release(state)
      state = next
      converged = maxDelta <= tol
      iter += 1
    }
    RunResult(state, iter - 1, converged, collected.toSeq)
  }

  /** `(coalesce(max(delta), 0.0), count(delta > tol), count(*))` of
    * `state` in ONE job over its rows: each partition folds its rows, the
    * driver combines the folds. Spark's semantics, through
    * [[graft.vectors.Scan.orderKey]]: null deltas are skipped, NaN is
    * greater than every number (so it counts as active and a NaN max never
    * converges), and -0.0 equals 0.0. The job computes the persisted rows,
    * so it is also the one that materializes a lazy checkpoint.
    */
  private def stats(state: DataFrame, tol: Double): (Double, Long, Long) = {
    val d = state.schema.fieldIndex("delta")
    require(state.schema(d).dataType == DoubleType,
      s"the state's delta column must be a double: ${state.schema(d)}")
    val tolKey = Scan.orderKey(tol)
    val folds = state.sparkSession.sparkContext.runJob(
      state.queryExecution.toRdd, (rows: Iterator[InternalRow]) => {
        var max = Long.MinValue // below every orderKey: no non-null delta
        var active = 0L
        var n = 0L
        rows.foreach { r =>
          n += 1
          if (!r.isNullAt(d)) {
            val k = Scan.orderKey(r.getDouble(d))
            if (k > max) max = k
            if (k > tolKey) active += 1
          }
        }
        (max, active, n)
      })
    val max = folds.iterator.map(_._1).foldLeft(Long.MinValue)(math.max)
    (if (max == Long.MinValue) 0.0 else Scan.fromOrderKey(max),
      folds.iterator.map(_._2).sum, folds.iterator.map(_._3).sum)
  }
}
