package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.LinkGraph
import graft.engine.{LocalStore, Superstep}

/** HITS (Kleinberg hubs & authorities) — link-analysis beyond the
  * reference's app set (it ships PageRank only), the other classic
  * power-iteration ranking a link-graph engine is expected to serve:
  *
  *   auth_t(v) = Σ_{(u,v) ∈ E} hub_{t-1}(u)   , L2-normalized
  *   hub_t(u)  = Σ_{(u,v) ∈ E} auth_t(v)      , L2-normalized
  *
  * (the standard in-step update order: authorities from last round's hubs,
  * hubs from THIS round's authorities, each vector normalized to unit L2
  * after its update — Kleinberg, JACM 46(5) 1999, §3.)
  *
  * Scale shape: the edge list is hash-partitioned and persisted once; each
  * iteration is two shuffles (gather by dst for auth, gather by src for
  * hub) — HITS's irreducible data movement, exactly PageRank's superstep
  * cost ×2. The L2 norms are global scalars computed as 1-row frames and
  * broadcast into the state via crossJoin — no driver collect in the loop,
  * so the iteration count is the only driver-side control flow.
  */
object Hits {

  /** Run `iters` HITS iterations; returns (id, hub, auth). */
  def run(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    // The edge list is laid out in BOTH orientations (round 6, guide §2.4):
    // the auth gather joins on src, the hub gather on dst — a single
    // src-partitioned cache forced a full E-row exchange (and sort) of the
    // edge side by dst EVERY iteration. One extra E-sized cache makes both
    // per-iteration gather joins exchange-free and sort-free.
    val eSrc = LinkGraph.edgeView(edges.select("src", "dst"), "src")
    val eDst = LinkGraph.edgeView(edges.select("src", "dst"), "dst")
    eSrc.count(); eDst.count()

    val init = LinkGraph.vertices(edges)
      .select(col("id"), lit(1.0).as("hub"), lit(1.0).as("auth"),
        lit(0.0).as("delta"))

    def l2normalize(df: DataFrame, c: String): DataFrame = {
      val norm = df.agg(sqrt(sum(col(c) * col(c))).as("__n"))
      df.crossJoin(broadcast(norm))
        .withColumn(c, col(c) / col("__n")).drop("__n")
    }

    def step(state: DataFrame): DataFrame = {
      val auth = state.select(col("id"), col("hub"))
        .join(eSrc, state("id") === eSrc("src"))
        .groupBy(col("dst").as("id")).agg(sum("hub").as("auth"))
      val withAuth = l2normalize(
        state.select("id", "hub")
          .join(auth, Seq("id"), "left")
          .withColumn("auth", coalesce(col("auth"), lit(0.0))), "auth")
      val hub = withAuth.select(col("id"), col("auth"))
        .join(eDst, withAuth("id") === eDst("dst"))
        .groupBy(col("src").as("id")).agg(sum("auth").as("hub"))
      l2normalize(
        withAuth.select("id", "auth")
          .join(hub, Seq("id"), "left")
          .withColumn("hub", coalesce(col("hub"), lit(0.0))), "hub")
        .select(col("id"), col("hub"), col("auth"), lit(0.0).as("delta"))
    }

    // fixed rounds (see Superstep)
    val state = Superstep.run(init, step, -1.0, iters, new LocalStore).state
    eSrc.unpersist(false); eDst.unpersist(false)
    state.select("id", "hub", "auth")
  }

  /** Unrolled ANSI-SQL oracle for [[run]] (DuckDB-runnable): the same
    * update order with scalar-subquery L2 norms, quantized via
    * floor(x*10^roundTo + 0.5).
    */
  def oracleSql(edgesSql: String, iters: Int, roundTo: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""a${k}r AS MATERIALIZED (
         |  SELECT v.id, COALESCE(s.x, 0.0) AS auth
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS id, SUM(h.hub) AS x
         |    FROM edges e JOIN h${k - 1} h ON h.id = e.src GROUP BY 1
         |  ) s ON s.id = v.id),
         |a$k AS MATERIALIZED (
         |  SELECT id, auth / (SELECT SQRT(SUM(auth * auth)) FROM a${k}r)
         |    AS auth FROM a${k}r),
         |h${k}r AS MATERIALIZED (
         |  SELECT v.id, COALESCE(s.x, 0.0) AS hub
         |  FROM verts v LEFT JOIN (
         |    SELECT e.src AS id, SUM(a.auth) AS x
         |    FROM edges e JOIN a$k a ON a.id = e.dst GROUP BY 1
         |  ) s ON s.id = v.id),
         |h$k AS MATERIALIZED (
         |  SELECT id, hub / (SELECT SQRT(SUM(hub * hub)) FROM h${k}r)
         |    AS hub FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS MATERIALIZED (
       |$edgesSql
       |),
       |verts AS MATERIALIZED (
       |  SELECT DISTINCT id FROM (
       |    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
       |),
       |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM verts),
       |$iterCtes
       |SELECT h.id,
       |  CAST(FLOOR(h.hub * 1e$roundTo + 0.5) AS BIGINT) AS hub_q$roundTo,
       |  CAST(FLOOR(a.auth * 1e$roundTo + 0.5) AS BIGINT) AS auth_q$roundTo
       |FROM h$iters h JOIN a$iters a ON a.id = h.id
       |ORDER BY h.id""".stripMargin
  }
}
