package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.graft.GraftSqlBridge.StepTemplate
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
  * `(max(delta), count(delta > tol))` and each partition's rows and
  * `UnsafeRow` bytes ([[SuperstepMetrics.partitions]], on every store) over
  * the persisted rows in the job that computes them, as GraphChi logs its
  * changes in the pass that updates the vertices; `active` doubles as the
  * frontier size,
  * mirroring the bitset scheduler (bitset_scheduler.hpp:38-104). Stop rules:
  *   - max-Δ (`tol >= 0`, `delta` = per-row |change|): PageRank.
  *   - empty frontier (`tol = 0`, `delta` = 1 exactly on the rows the next
  *     step acts on, else 0; a step reads its frontier as
  *     `state.filter(delta > 0)`): CC, LPA, k-cores, SSSP, k-hop, landmark
  *     BFS, Luby MIS, Jones–Plassmann coloring, decremental k-truss, and
  *     SCC's trim, forward-colour and backward-confirm fixpoints.
  *   - fixed rounds (`tol < 0`, `delta` informational): exactly `maxIters`
  *     supersteps — HITS, seeded LPA, PageRank.fixedIterations.
  *
  * The step contract: `step` is a plan over the state frame and nothing
  * else. It reads no superstep number, no driver value that changes
  * between supersteps and no metric of an earlier superstep; what a step
  * needs of the loop's progress is a column of the state (Luby MIS carries
  * its round, landmark BFS derives a distance from its frontier's). Its
  * static inputs are `persist()` caches declared before the loop, laid out
  * by [[graft.core.LinkGraph.edgeView]] where the loop joins on an edge
  * key. A scatter join of the state with such a view takes the view
  * through [[graft.core.LinkGraph.scatterView]], which keeps the join
  * exchange-free when the state is laid out like the view instead of
  * broadcasting the view again every superstep.
  *
  * Planned once per state layout, as GraphChi sets its vertex program up
  * once and streams the shards through it every iteration: the driver
  * builds `step(state)` and keeps its executed plan as a template
  * ([[org.apache.spark.sql.graft.GraftSqlBridge.StepTemplate]]). A later
  * superstep whose state leaf — the store's RDD checkpoint or read-back
  * file relation — has the template leaf's schema, partition count,
  * partitioning and ordering reruns that physical plan with the leaf
  * rebound, fresh exchanges and all, instead of building, analyzing,
  * optimizing and planning the step again; the rebound step stays a lazy
  * frame, run by the store's `persist` and the fold. A leaf laid out
  * differently builds the step again and makes it the template, so a loop
  * builds its step once or twice: over the init state, then over the
  * step's own output layout. A plan whose leaf is missing or out of reach
  * is built every superstep; that is always so under AQE, whose executed
  * plan is an adaptive plan that hides the leaf.
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
    * @param step     state => next state (same schema), a plan over the
    *                 state alone (see the step contract above)
    * @param tol      stop when max(delta) <= tol
    * @param maxIters superstep cap
    * @param store    persistence/metrics backend
    */
  def run(
      init: DataFrame,
      step: DataFrame => DataFrame,
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
    var template: Option[StepTemplate] = None
    // A superstep that throws releases the states it holds, the last
    // completed one and the one it persisted, so a failed run leaves no
    // checkpoint blocks behind.
    try {
      while (iter <= maxIters && !converged) {
        val t0 = System.nanoTime()
        val planned = template.flatMap(_.rebind(state)).getOrElse {
          val built = step(state)
          template = StepTemplate(state, built)
          built
        }
        val next = store.persist(planned, iter)
        val (maxDelta, active, parts) =
          try stats(next, tol)
          catch { case e: Throwable => store.release(next); throw e }
        val wall = (System.nanoTime() - t0) / 1e9
        val m = SuperstepMetrics(iter, parts.map(_.rows).sum,
          parts.map(_.bytes).sum, maxDelta, active, wall, parts)
        store.log(m)
        collected += m
        store.release(state)
        state = next
        converged = maxDelta <= tol
        iter += 1
      }
    } catch {
      case e: Throwable =>
        store.release(state)
        throw e
    }
    RunResult(state, iter - 1, converged, collected.toSeq)
  }

  /** `(coalesce(max(delta), 0.0), count(delta > tol))` of `state` and
    * each partition's rows and `UnsafeRow` bytes, in ONE job over its
    * rows: each partition folds its rows, the driver combines the folds.
    * Spark's semantics, through [[graft.vectors.Scan.orderKey]]: null
    * deltas are skipped, NaN is greater than every number (so it counts as
    * active and a NaN max never converges), and -0.0 equals 0.0. The job
    * computes the persisted rows, so it is also the one that materializes
    * a lazy checkpoint.
    */
  private def stats(state: DataFrame,
      tol: Double): (Double, Long, Seq[PartitionMetric]) = {
    val schema = state.schema
    val d = schema.fieldIndex("delta")
    require(schema(d).dataType == DoubleType,
      s"the state's delta column must be a double: ${schema(d)}")
    val tolKey = Scan.orderKey(tol)
    val folds = state.sparkSession.sparkContext.runJob(
      state.queryExecution.toRdd, (rows: Iterator[InternalRow]) => {
        var max = Long.MinValue // below every orderKey: no non-null delta
        var active = 0L
        var n = 0L
        var bytes = 0L
        lazy val unsafe = UnsafeProjection.create(schema)
        rows.foreach { r =>
          n += 1
          bytes += (r match {
            case u: UnsafeRow => u.getSizeInBytes
            case other => unsafe(other).getSizeInBytes
          })
          if (!r.isNullAt(d)) {
            val k = Scan.orderKey(r.getDouble(d))
            if (k > max) max = k
            if (k > tolKey) active += 1
          }
        }
        (max, active, n, bytes)
      })
    val max = folds.iterator.map(_._1).foldLeft(Long.MinValue)(math.max)
    (if (max == Long.MinValue) 0.0 else Scan.fromOrderKey(max),
      folds.iterator.map(_._2).sum,
      folds.toSeq.zipWithIndex.map { case ((_, _, n, b), p) =>
        PartitionMetric(p, n, b) })
  }
}
