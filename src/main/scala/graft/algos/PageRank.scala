package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.LinkGraph
import graft.engine.{LocalStore, StateStore, Superstep}

/** PageRank as power iteration with teleport, matching the reference kernel
  * /root/reference/example_apps/pagerank.cpp:74-112:
  *
  *   rank_0(v)   = 1.0  (iteration 0 writes contribution 1/outdeg to edges)
  *   rank_t(v)   = 0.15 + 0.85 * Σ_{(u,v) ∈ E} rank_{t-1}(u) / outdeg(u)
  *
  * Dangling vertices (outdeg 0) keep their full rank — NO redistribution,
  * exactly like the reference (pagerank.cpp:96-104; the vertex simply has no
  * out-edges to write to). Edge weights are ignored (the reference's float
  * edge payload carries the contribution, not an input weight). Convergence:
  * max per-vertex |Δ| <= tol, the `allclose 1e-6` target.
  *
  * Scale notes: the contribution table (`src, dst, share`) is static — it is
  * computed once, hash-partitioned and persisted; each superstep is one join
  * on `src` (co-partitioned with the rank state → no shuffle of the big edge
  * side after iteration 1 under AQE-stable partitioning) plus one
  * `groupBy(dst)` shuffle with map-side partial sums. That one shuffle per
  * superstep is the PSW-equivalent data movement and is irreducible.
  */
object PageRank {
  val Teleport = 0.15
  val Damping  = 0.85

  /** Static per-edge contribution shares: (src, dst, share=1/outdeg(src)). */
  def shares(edges: DataFrame): DataFrame = {
    val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    edges.select("src", "dst")
      .join(outDeg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("od")).as("share"))
  }

  /** Share table ready for the superstep loop: the layout of
    * [[LinkGraph.edgeView]] (hash(src)-partitioned, sorted by src, a
    * columnar cache), materialized, but built as its own chain. ONE E-row
    * exchange (guide §2.4): the outdeg aggregate consumes the same exchange
    * as the edge stream (ReuseExchange dedupes the identical subtree), where
    * the previous shares() + repartition chain exchanged the E-row side
    * twice — once into the outdeg join, once more for the explicit
    * repartition (measured: PR prep 4.8 s vs 4.6 s for all 7 supersteps at
    * sf0.1). The explicit local sort is removed by RemoveRedundantSorts
    * whenever the join already produced src order.
    */
  def preparedShares(edges: DataFrame): DataFrame = {
    val parts = LinkGraph.partitions(edges.sparkSession)
    val e = edges.select(col("src"), col("dst")).repartition(parts, col("src"))
    val od = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val sh = e.join(od, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("od")).as("share"))
      .sortWithinPartitions("src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    sh.count() // materialize once
    sh
  }

  /** Run to convergence. Returns state (id, rank, delta) + metrics. */
  /** @param saltBuckets when > 0, the gather aggregation is two-level salted
    *   (graft.core.Skew.saltedSum) — the explicit skew path for graphs where
    *   hot vertices defeat map-side partial aggregation.
    */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      tol: Double = 1e-6,
      maxIters: Int = 100,
      store: StateStore = new LocalStore,
      saltBuckets: Int = 0): Superstep.RunResult = {

    // Pre-sorted within hash partitions: the cached relation advertises
    // partitioning + outputOrdering, so the per-superstep sort-merge scatter
    // join never re-sorts the E-row side — only the V-row sums side sorts
    // each round.
    val sh = preparedShares(edges)

    // The state itself is the vertex list: (id, rank, delta), hash-partitioned
    // by id. Keeping state and shares co-partitioned on the vertex id makes
    // the scatter join exchange-free; the only shuffle per superstep is the
    // gather groupBy(dst), and the apply join reuses its partitioning.
    val init = LinkGraph.vertices(edges)
      .select(col("id"), lit(1.0).as("rank"), lit(Double.MaxValue).as("delta"))

    def step(state: DataFrame): DataFrame = {
      val view = LinkGraph.scatterView(sh, state, "id")
      val scattered = state.select(col("id"), col("rank"))
        .join(view, state("id") === view("src"))
      val sums =
        if (saltBuckets > 0)
          graft.core.Skew.saltedSum(
            scattered.select(col("dst"), col("src"),
              (col("rank") * col("share")).as("contrib")),
            "dst", "contrib", "insum", saltBuckets, col("src"))
        else
          scattered.groupBy(col("dst"))
            .agg(sum(col("rank") * col("share")).as("insum"))
      val prev = state.select(col("id"), col("rank").as("prev"))
      prev.join(sums, prev("id") === sums("dst"), "left")
        .select(
          prev("id"),
          (lit(Teleport) + lit(Damping) * coalesce(col("insum"), lit(0.0)))
            .as("rank"),
          col("prev"))
        .withColumn("delta", abs(col("rank") - col("prev")))
        .drop("prev")
    }

    val res = Superstep.run(init, step, tol, maxIters, store)
    sh.unpersist(false)
    res
  }

  /** Fixed-iteration variant of the same recurrence (oracle-checkable:
    * the DuckDB oracle unrolls exactly `iters` steps).
    */
  def fixedIterations(
      spark: SparkSession,
      edges: DataFrame,
      iters: Int): DataFrame = {
    val res = run(spark, edges, tol = -1.0, maxIters = iters)
    res.state.select("id", "rank")
  }

  /** Unrolled ANSI-SQL oracle for [[fixedIterations]] (DuckDB-runnable),
    * quantizing ranks via floor(x*10^roundTo + 0.5) for float-stable hashing.
    */
  def oracleSql(edgesSql: String, iters: Int, roundTo: Int): String = {
    // AS MATERIALIZED: DuckDB otherwise inlines each CTE at every reference —
    // the unrolled chain references r_{k-1} once per step but `share`/`verts`
    // many times, exploding the plan. (MATERIALIZED is DuckDB/Postgres syntax;
    // oracle SQL is only ever run by DuckDB.)
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT v.id,
         |         CAST($Teleport + $Damping * COALESCE(s.x, 0.0) AS DOUBLE) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT sh.dst AS id, SUM(r.rank * sh.share) AS x
         |    FROM share sh JOIN r${k - 1} r ON r.id = sh.src GROUP BY 1
         |  ) s ON s.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |$edgesSql
       |),
       |verts AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
       |),
       |outdeg AS (SELECT src AS id, COUNT(*) AS od FROM edges GROUP BY 1),
       |share AS MATERIALIZED (
       |  SELECT e.src, e.dst, 1.0 / o.od AS share
       |  FROM edges e JOIN outdeg o ON o.id = e.src),
       |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts),
       |$iterCtes
       |SELECT id, CAST(FLOOR(rank * 1e$roundTo + 0.5) AS BIGINT) AS rank_q$roundTo
       |FROM r$iters ORDER BY id""".stripMargin
  }

  /** Personalized PageRank (random walk with restart into a seed set S):
    *
    *   r_0(v) = 1/|S| · [v ∈ S]
    *   r_t(v) = 0.15/|S| · [v ∈ S] + 0.85 · Σ_{(u,v) ∈ E} r_{t-1}(u)/outdeg(u)
    *
    * The fixpoint the reference's random-walk app approximates by simulation
    * (/root/reference/example_apps/randomwalks.cpp:45-90: visit frequencies
    * from a source set with restart — ≈ PPR up to normalization) computed
    * exactly as power iteration: teleport mass returns to the seeds instead
    * of spreading uniformly, so ranks measure graph proximity to S (the
    * seed-relevance expansion used to rank crawl/training corpora from a
    * trusted seed list). Dangling vertices keep their rank, as in [[run]].
    *
    * Scale shape is identical to [[run]] — the static co-partitioned share
    * table, one gather shuffle per superstep; the seed indicator is a
    * broadcast literal `isin` (personalization sets are small by definition;
    * a corpus-sized S is just global PageRank and belongs in [[run]]).
    */
  def personalizedFixed(
      spark: SparkSession,
      edges: DataFrame,
      seeds: Seq[Long],
      iters: Int): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs a non-empty seed set")
    val sh = preparedShares(edges)

    val seedMass = 1.0 / seeds.size
    def seedRank(id: org.apache.spark.sql.Column) =
      when(id.isin(seeds: _*), lit(seedMass)).otherwise(lit(0.0))

    val init = LinkGraph.vertices(edges)
      .select(col("id"), seedRank(col("id")).as("rank"),
        lit(Double.MaxValue).as("delta"))

    def step(state: DataFrame): DataFrame = {
      val view = LinkGraph.scatterView(sh, state, "id")
      val scattered = state.select(col("id"), col("rank"))
        .join(view, state("id") === view("src"))
      val sums = scattered.groupBy(col("dst"))
        .agg(sum(col("rank") * col("share")).as("insum"))
      val prev = state.select(col("id"), col("rank").as("prev"))
      prev.join(sums, prev("id") === sums("dst"), "left")
        .select(
          prev("id"),
          (lit(Teleport) * seedRank(prev("id")) +
            lit(Damping) * coalesce(col("insum"), lit(0.0))).as("rank"),
          col("prev"))
        .withColumn("delta", abs(col("rank") - col("prev")))
        .drop("prev")
    }

    val res = Superstep.run(init, step _, tol = -1.0, maxIters = iters,
      store = new LocalStore)
    sh.unpersist(false)
    res.state.select("id", "rank")
  }

  /** Unrolled ANSI-SQL oracle for [[personalizedFixed]] (DuckDB-runnable). */
  def personalizedOracleSql(edgesSql: String, seeds: Seq[Long], iters: Int,
      roundTo: Int): String = {
    val seedList = seeds.mkString(", ")
    val seedMass = s"(1.0 / ${seeds.size})"
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT v.id,
         |         CAST($Teleport * (CASE WHEN v.id IN ($seedList)
         |                           THEN $seedMass ELSE 0.0 END)
         |              + $Damping * COALESCE(s.x, 0.0) AS DOUBLE) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT sh.dst AS id, SUM(r.rank * sh.share) AS x
         |    FROM share sh JOIN r${k - 1} r ON r.id = sh.src GROUP BY 1
         |  ) s ON s.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |$edgesSql
       |),
       |verts AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
       |),
       |outdeg AS (SELECT src AS id, COUNT(*) AS od FROM edges GROUP BY 1),
       |share AS MATERIALIZED (
       |  SELECT e.src, e.dst, 1.0 / o.od AS share
       |  FROM edges e JOIN outdeg o ON o.id = e.src),
       |r0 AS (SELECT id, CAST(CASE WHEN id IN ($seedList) THEN $seedMass
       |                       ELSE 0.0 END AS DOUBLE) AS rank FROM verts),
       |$iterCtes
       |SELECT id, CAST(FLOOR(rank * 1e$roundTo + 0.5) AS BIGINT) AS rank_q$roundTo
       |FROM r$iters ORDER BY id""".stripMargin
  }

  /** DuckDB oracle for [[run]] (the *convergence-stopped* variant): a
    * recursive CTE that replicates the Superstep stopping rule exactly —
    * produce iteration k+1 only while max(delta_k) > tol, cap at maxIters —
    * so the oracle terminates at the same superstep as the engine without
    * the iteration count being known in advance.
    */
  def convergedOracleSql(edgesSql: String, tol: Double, maxIters: Int,
      roundTo: Int): String =
    s"""WITH RECURSIVE edges AS MATERIALIZED (
       |$edgesSql
       |),
       |verts AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
       |),
       |share AS MATERIALIZED (
       |  SELECT e.src, e.dst, 1.0 / o.od AS share
       |  FROM edges e JOIN (
       |    SELECT src, COUNT(*) AS od FROM edges GROUP BY 1) o ON o.src = e.src),
       |pr AS (
       |  SELECT id, CAST(1.0 AS DOUBLE) AS rank, CAST(1e308 AS DOUBLE) AS delta,
       |         0 AS iter
       |  FROM verts
       |  UNION ALL
       |  SELECT id, rank, delta, iter FROM (
       |    SELECT v.id,
       |           CAST($Teleport + $Damping * COALESCE(s.x, 0.0) AS DOUBLE) AS rank,
       |           ABS(CAST($Teleport + $Damping * COALESCE(s.x, 0.0) AS DOUBLE)
       |               - v.rank) AS delta,
       |           v.iter + 1 AS iter,
       |           MAX(v.delta) OVER () AS prev_maxd
       |    FROM pr v LEFT JOIN (
       |      SELECT sh.dst AS id, SUM(p.rank * sh.share) AS x
       |      FROM share sh JOIN pr p ON p.id = sh.src GROUP BY 1) s ON s.id = v.id
       |  ) WHERE prev_maxd > $tol AND iter <= $maxIters)
       |SELECT id, CAST(FLOOR(rank * 1e$roundTo + 0.5) AS BIGINT) AS rank_q$roundTo
       |FROM pr WHERE iter = (SELECT MAX(iter) FROM pr) ORDER BY id""".stripMargin
}
