package graft.algos

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{LocalStore, Superstep}

/** k-truss — the edge-centric cohesion analog of k-cores (beyond the
  * reference's app set, which peels vertices but not edges): the maximal
  * subgraph in which every edge closes at least k−2 triangles *within the
  * subgraph*. Computed by support peeling: count each edge's triangles,
  * drop edges below k−2, take the dropped edges' triangles off the
  * survivors' supports, repeat to fixpoint.
  *
  * Scale shape: the one support count is [[TriangleCount]]'s
  * degree-oriented adjacency intersection (work Σ min-degree,
  * degeneracy-bounded arrays — the plan already measured linear at 176 M
  * edges); support attribution is a 3×union + map-side-combinable count.
  * Rounds are data-dependent (each removes ≥ 1 edge or stops), so like
  * SCC's peel the loop fails loudly on a round budget instead of spinning
  * silently.
  */
object Truss {

  /** Per-edge triangle support over canonical (u < v) edges.
    * Returns ((u, v, supp), orientedHandleToUnpersist).
    */
  private[graft] def support(und: DataFrame): (DataFrame, DataFrame) = {
    val oriented = TriangleCount.orientByDegree(und)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val adj = oriented.groupBy(col("a").as("id"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    val tris = oriented
      .join(adj.select(col("id").as("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("id").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(col("a").as("x"), col("b").as("y"),
        explode(array_intersect(col("na"), col("nb"))).as("z"))
    def pair(p: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
      tris.select(least(p, q).as("u"), greatest(p, q).as("v"))
    val supp = pair(col("x"), col("y"))
      .unionAll(pair(col("x"), col("z")))
      .unionAll(pair(col("y"), col("z")))
      .groupBy("u", "v").agg(count(lit(1)).as("supp"))
    (supp, oriented)
  }

  /** Decremental k-truss (VERDICT r4 #5): support is counted ONCE (the
    * degree-oriented pass of [[support]]), then each peel round lists
    * ONLY the triangles touching that round's removed edges and subtracts
    * them from the survivors' supports, maintaining the invariant supp(e) =
    * triangles of e within the current edge set — so the fixpoint is
    * identical to the recount plan's (MoreAlgosSpec asserts set equality
    * with its test-side recount; the unrolled [[oracleSql]] is the recount
    * plan in SQL).
    *
    * Scale shape per round: a map-side-combinable degree count, then each
    * removed edge expands from its LOWER-degree endpoint (Σ min-deg rows —
    * the oriented-intersection work bound, as relational joins: no
    * adjacency arrays, so hubs never build giant collect_lists) and the
    * wedge closes against the current edge set with one hash join. Work is
    * proportional to the REMOVED edges' triangle neighborhoods + an O(E)
    * scan, where the recount plan pays the full Σ_E min-deg intersection
    * every round. Small removal batches broadcast. BENCH.md records the
    * measured A/B at 22 M edges. The peel rounds are supersteps of
    * [[Superstep.run]] (frontier stop rule).
    *
    * The broadcast gate is decided once, before the loop, so the step is a
    * plan over its state alone: every batch is broadcast iff round 1's
    * removals and its survivors both number at most 1M edges. Every later
    * batch is a subset of round 1's survivors, so no batch over 1M rows is
    * broadcast. The one regime that loses a broadcast: round 1 removes or
    * keeps more than 1M edges, and later batches are small; those batches
    * then shuffle into the wedge join instead.
    */
  def kTrussDecremental(spark: SparkSession, edges: DataFrame, k: Int,
      maxRounds: Int = 200): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val e0 = TriangleCount.canonicalEdges(edges).localCheckpoint(true)
    val (supp0, o0) = support(e0)
    // state (u, v, supp, delta): delta = 1 on the edges the next round
    // removes; a round drops them and subtracts their triangles
    def flagged(state: DataFrame) = state.withColumn("delta",
      when(col("supp") < k - 2, 1.0).otherwise(0.0))
    val init = flagged(e0.join(supp0, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("supp"), lit(0L)).as("supp")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val Row(removed0: Long, n0: Long) =
      init.agg(count(when(col("delta") > 0, 1)), count(lit(1))).head()
    o0.unpersist(false)
    val broadcastBatches = math.max(removed0, n0 - removed0) <= 1000000L

    def step(cur: DataFrame): DataFrame = {
      val removed = cur.filter(col("delta") > 0).select("u", "v")
      val und = cur.select(col("u").as("a"), col("v").as("b"))
        .unionAll(cur.select(col("v").as("a"), col("u").as("b")))
      val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
      // expand each removed edge from its lower-(degree, id) endpoint
      val lower = struct(col("du"), col("u")) <= struct(col("dv"), col("v"))
      val rdeg = removed
        .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
        .select(col("u"), col("v"),
          when(lower, col("u")).otherwise(col("v")).as("lo"),
          when(lower, col("v")).otherwise(col("u")).as("hi"))
      val rdegH = if (broadcastBatches) broadcast(rdeg) else rdeg
      val tris = rdegH
        .join(und.select(col("a").as("lo"), col("b").as("w")), "lo")
        .filter(col("w") =!= col("hi"))
        .join(und.select(col("a").as("hi"), col("b").as("w")), Seq("hi", "w"))
        .select(col("u"), col("v"), col("w"))
      // canonical triangle id, deduping triangles hit by 2-3 removed edges
      // (mid = sum − min − max: exact while ids stay below ~2^62/3, far
      // above any vertex-id space this engine derives)
      val tri = tris.select(
          least(col("u"), col("v"), col("w")).as("x"),
          (col("u") + col("v") + col("w")
            - least(col("u"), col("v"), col("w"))
            - greatest(col("u"), col("v"), col("w"))).as("y"),
          greatest(col("u"), col("v"), col("w")).as("z"))
        .distinct()
      // one scan of tri for its three edges: a 3-way union would plan the
      // removal-batch broadcast three times
      val dec = tri.select(explode(array(
          struct(col("x").as("u"), col("y").as("v")),
          struct(col("x").as("u"), col("z").as("v")),
          struct(col("y").as("u"), col("z").as("v")))).as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("dec"))
      flagged(cur.filter(col("delta") === 0)
        .join(dec, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          (col("supp") - coalesce(col("dec"), lit(0L))).as("supp")))
    }

    val res = Superstep.run(init, step, tol = 0.0, maxRounds, new LocalStore)
    init.unpersist(false)
    if (!res.converged) throw new IllegalStateException(
      s"k-truss did not converge in $maxRounds peel rounds")
    res.state.select("u", "v")
  }

  /** Unrolled ANSI-SQL oracle for [[kTrussDecremental]] (DuckDB-runnable):
    * `rounds` recount peel rounds — enough to cover the engine's measured
    * fixpoint; peeling is idempotent after convergence, so extra rounds are
    * harmless (and the engine's own `maxRounds` fails loudly if data drift
    * ever needs more).
    */
  def oracleSql(edgesSql: String, k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""t$r AS MATERIALIZED (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM e${r - 1} e1
         |  JOIN e${r - 1} e2 ON e2.u = e1.v
         |  JOIN e${r - 1} e3 ON e3.u = e1.u AND e3.v = e2.v),
         |s$r AS MATERIALIZED (
         |  SELECT u, v, COUNT(*) AS supp FROM (
         |    SELECT x AS u, y AS v FROM t$r
         |    UNION ALL SELECT x, z FROM t$r
         |    UNION ALL SELECT y, z FROM t$r)
         |  GROUP BY 1, 2),
         |e$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${r - 1} e
         |  LEFT JOIN s$r s ON s.u = e.u AND s.v = e.v
         |  WHERE COALESCE(s.supp, 0) >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |$edgesSql
       |),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM edges WHERE src <> dst),
       |$roundCtes
       |SELECT u, v FROM e$rounds ORDER BY u, v""".stripMargin
  }
}
