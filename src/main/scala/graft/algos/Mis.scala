package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{LocalStore, Superstep}

/** Luby's maximal-independent-set algorithm (Luby 1986), the third member
  * of the fixed-random-priority family next to [[Coloring]] (Jones–
  * Plassmann is "Luby + mex"; Louvain's singleton seeding uses the same
  * contest): each round, every still-active vertex whose priority beats
  * all of its still-active neighbors' joins the MIS, then it AND its
  * neighbors leave the active set. O(log n) rounds expected; the result
  * is independent (two winners are never adjacent — one would out-rank
  * the other) and maximal (a vertex only leaves the active set when it
  * or a neighbor is selected).
  *
  * Determinism is the Coloring contract: priority = (Lehmer hash << 32 |
  * id), unique and engine-portable, fixed across rounds, so the selected
  * set and each member's selection round are bit-identical across
  * engines and partitionings — the DuckDB oracle replays the loop as
  * unrolled CTEs, rounds past the fixpoint idempotent (empty winner
  * frontier, unchanged active set).
  *
  * Scale shape per round: one edges ⋈ active join for the neighborhood
  * priority max (map-side combinable), one frontier-sized neighbor
  * expansion for the removal set, and one left join that flags the
  * removed rows — and unlike coloring, each round removes winners PLUS
  * their whole neighborhoods, so the active set collapses geometrically
  * even on hub-heavy graphs (a hub leaves the moment any neighbor wins; it
  * never waits out its degree the way JP's random-priority contest makes
  * it wait).
  *
  * The rounds are supersteps of [[Superstep.run]] (frontier stop rule):
  * state (id, pri, mis_round, round, delta), `delta` = 1 on still-active
  * vertices, `round` the rounds done so far (the same on every row), a
  * winner's round written into its `mis_round`.
  *
  * Output: (id, mis_round) for MIS members only, mis_round ≥ 1.
  */
object Mis {

  def luby(edges: DataFrame, maxRounds: Int = 64,
      seed: Long = 42L): DataFrame = run(edges, maxRounds, seed)._1

  /** Variant returning the round count too (probes, specs). */
  def run(edges: DataFrame, maxRounds: Int = 64,
      seed: Long = 42L): (DataFrame, Int) = {
    // not LinkGraph.edgeView (sf0.01 noop sweep, interleaved with this
    // view, BENCH.md): keyed on src, graph_mis ran ~20 % slower best-of-6;
    // keyed on dst, graph_mis and both colorings ran 1-4 % slower
    // best-of-20
    val und = edges
      .select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pri = (GraphOps.lehmerHash(col("id"), lit(0L), seed) *
      4294967296L + (col("id") % 4294967296L)).as("pri")
    val init = und.select(col("src").as("id")).distinct()
      .select(col("id"), pri, lit(null).cast("long").as("mis_round"),
        lit(0L).as("round"), lit(1.0).as("delta"))

    def step(state: DataFrame): DataFrame = {
      val active = state.filter(col("delta") > 0)
      val nbrMax = und
        .join(active.select(col("id").as("dst"), col("pri").as("np")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(max(col("np")).as("maxnp"))
      val winners = active.join(nbrMax, Seq("id"), "left")
        .filter(col("maxnp").isNull || col("pri") > col("maxnp"))
        .select(col("id"), (col("round") + 1).as("won"))
      // winners and their neighbors leave; a winner carries its round
      val removed = winners
        .unionAll(und
          .join(winners.select(col("id").as("src")), Seq("src"))
          .select(col("dst").as("id"), lit(null).cast("long").as("won")))
        .groupBy("id").agg(max(col("won")).as("won"), lit(true).as("rm"))
      state.join(removed, Seq("id"), "left")
        .select(col("id"), col("pri"),
          coalesce(col("mis_round"), col("won")).as("mis_round"),
          (col("round") + 1).as("round"),
          when(col("delta") > 0 && col("rm").isNull, 1.0).otherwise(0.0)
            .as("delta"))
    }

    val res = Superstep.run(init, step, tol = 0.0, maxRounds, new LocalStore)
    und.unpersist(false)
    require(res.converged, s"luby: not done after $maxRounds rounds")
    (res.state.filter(col("mis_round").isNotNull)
      .select("id", "mis_round"), res.supersteps)
  }
}
