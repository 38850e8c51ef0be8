package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.LinkGraph
import graft.engine.{LocalStore, StateStore, Superstep}

/** Weakly-connected components via hash-min label exchange, matching the
  * reference semantics /root/reference/example_apps/connectedcomponents.cpp:
  * label_0 = vertex id; label_{t+1}(v) = min(label_t(v), min over undirected
  * neighbors' label_t); stop when no label changes. The reference converges
  * faster per-iteration because GraphChi's execution is asynchronous
  * (connectedcomponents.cpp:33-41); BSP reaches the identical fixpoint (min
  * id of the component) in O(diameter) supersteps.
  *
  * Delta iteration: only vertices whose label changed last superstep send
  * messages (the reference's selective scheduling, bitset_scheduler.hpp) —
  * the message volume collapses geometrically after the first few rounds,
  * which is the difference between O(E·diameter) and ~O(E + V·diameter)
  * traffic at 100 TB scale.
  */
object ConnectedComponents {

  def run(
      spark: SparkSession,
      edges: DataFrame,
      maxIters: Int = 50,
      store: StateStore = new LocalStore): Superstep.RunResult = {

    val und = LinkGraph.edgeView(edges, "src", undirected = true)
    und.count() // materialize once

    // state: (id, label, delta) — delta=1.0 while the vertex just changed
    // (its neighbors must be re-examined), 0.0 once stable. The vertices are
    // und's sources (the oracle's `verts`), grouped on the cached und with
    // no second edge scan and no exchange. The label is `min(src)`, not an
    // alias of id: an alias makes the rebased checkpoint advertise
    // hashpartitioning(label), and superstep 1's scatter join would then
    // exchange the state again.
    val init = und.groupBy(col("src").as("id"))
      .agg(min(col("src")).as("label"), lit(1.0).as("delta"))

    def step(state: DataFrame): DataFrame = {
      // Frontier: only vertices that changed last round emit their label.
      val frontier = state.filter(col("delta") > 0)
        .select(col("id"), col("label"))
      val view = LinkGraph.scatterView(und, state, "id")
      val msgs = frontier
        .join(view, frontier("id") === view("src"))
        .groupBy(col("dst"))
        .agg(min(col("label")).as("mlabel"))
      state.join(msgs, state("id") === msgs("dst"), "left")
        .select(
          state("id"),
          least(state("label"), coalesce(col("mlabel"), state("label")))
            .as("label"),
          when(coalesce(col("mlabel"), state("label")) < state("label"), 1.0)
            .otherwise(0.0).as("delta"))
      // no repartition: the apply join preserves hash(id) partitioning
      // (state side), keeping every superstep's scatter join exchange-free
    }

    try Superstep.run(init, step, tol = 0.0, maxIters = maxIters, store)
    finally und.unpersist(false)
  }

  /** (id, label) at the fixpoint. Asserts convergence — with a too-small
    * `maxIters` a high-diameter graph would otherwise silently return
    * non-fixpoint labels (ADVICE r1).
    */
  def components(spark: SparkSession, edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    val res = run(spark, edges, maxIters = maxIters)
    require(res.converged,
      s"connected components did not converge within $maxIters supersteps " +
        "(graph diameter exceeds the iteration budget); raise maxIters")
    res.state.select("id", "label")
  }

  /** Component-size histogram — the reference's `analyze_labels`
    * (/root/reference/src/util/labelanalysis.hpp:66-189): label, count,
    * ordered by count desc.
    */
  def componentSizes(components: DataFrame): DataFrame =
    components.groupBy(col("label"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("label"))

  /** Unrolled min-propagation SQL oracle (enough iterations must be given to
    * cover the graph diameter — verified in tests).
    */
  def oracleSql(edgesSql: String, iters: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (
         |  SELECT s.id, LEAST(s.label, COALESCE(m.ml, s.label)) AS label
         |  FROM l${k - 1} s LEFT JOIN (
         |    SELECT u.dst AS id, MIN(l.label) AS ml
         |    FROM und u JOIN l${k - 1} l ON l.id = u.src GROUP BY 1
         |  ) m ON m.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |$edgesSql
       |),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges)
       |),
       |verts AS (SELECT DISTINCT src AS id FROM und),
       |l0 AS (SELECT id, id AS label FROM verts),
       |$iterCtes
       |SELECT id, label FROM l$iters ORDER BY id""".stripMargin
  }
}
