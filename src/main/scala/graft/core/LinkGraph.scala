package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The canonical link graph used by every graph query in [[graft.SparkEntry]].
  *
  * The reference engine consumes a plain `(src, dst, weight)` edge list
  * (cf. /root/reference/src/preprocessing/conversions.hpp:212-288); here the
  * edge table is *derived* from the relational testdata tables so the DuckDB
  * oracle can reproduce it with plain SQL on the same parquet files. Entity
  * id spaces are made disjoint with additive bases, so self-edges are
  * impossible by construction (the reference drops self-edges at ingest,
  * conversions.hpp:261).
  *
  * Edge sets (all weights double):
  *   nation   -> region    (w=1)
  *   customer -> nation    (w=1)
  *   supplier -> nation    (w=1)
  *   customer -> order     (w=1)
  *   order    -> part      (w=#lineitems for the pair)
  *   order    -> supplier  (w=#lineitems)
  *   part     -> supplier  (w=#lineitems)
  *
  * Suppliers are few and referenced by every lineitem, so they are the
  * deliberately skewed high-degree vertices (the salting test bed).
  */
object LinkGraph {
  val REGION  = 0L
  val NATION  = 10000000L
  val CUST    = 20000000L
  val SUPP    = 30000000L
  val ORDER   = 40000000L
  val PART    = 50000000L

  /** Directed, deduplicated edge table (src: Long, dst: Long, weight: Double). */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    val nation   = Tables(spark, dir, "nation")
    val customer = Tables(spark, dir, "customer")
    val supplier = Tables(spark, dir, "supplier")
    val orders   = Tables(spark, dir, "orders")
    val lineitem = Tables(spark, dir, "lineitem")

    val n2r = nation.select(
      (col("n_nationkey").cast("long") + NATION).as("src"),
      col("n_regionkey").cast("long").as("dst"),
      lit(1.0).as("weight"))
    val c2n = customer.select(
      (col("c_custkey").cast("long") + CUST).as("src"),
      (col("c_nationkey").cast("long") + NATION).as("dst"),
      lit(1.0).as("weight"))
    val s2n = supplier.select(
      (col("s_suppkey").cast("long") + SUPP).as("src"),
      (col("s_nationkey").cast("long") + NATION).as("dst"),
      lit(1.0).as("weight"))
    val c2o = orders.select(
      (col("o_custkey").cast("long") + CUST).as("src"),
      (col("o_orderkey").cast("long") + ORDER).as("dst"),
      lit(1.0).as("weight"))
    def liEdge(srcCol: String, srcBase: Long, dstCol: String, dstBase: Long) =
      lineitem
        .groupBy(
          (col(srcCol).cast("long") + srcBase).as("src"),
          (col(dstCol).cast("long") + dstBase).as("dst"))
        .agg(count(lit(1)).cast("double").as("weight"))
    val o2p = liEdge("l_orderkey", ORDER, "l_partkey", PART)
    val o2s = liEdge("l_orderkey", ORDER, "l_suppkey", SUPP)
    val p2s = liEdge("l_partkey", PART, "l_suppkey", SUPP)

    n2r.unionAll(c2n).unionAll(s2n).unionAll(c2o)
      .unionAll(o2p).unionAll(o2s).unionAll(p2s)
  }

  /** SQL equivalent of [[edges]] for the DuckDB oracle (as a CTE body). */
  val edgesSql: String =
    s"""SELECT CAST(n_nationkey AS BIGINT) + $NATION AS src,
       |       CAST(n_regionkey AS BIGINT) AS dst, CAST(1.0 AS DOUBLE) AS weight FROM nation
       |UNION ALL
       |SELECT CAST(c_custkey AS BIGINT) + $CUST, CAST(c_nationkey AS BIGINT) + $NATION,
       |       CAST(1.0 AS DOUBLE) FROM customer
       |UNION ALL
       |SELECT CAST(s_suppkey AS BIGINT) + $SUPP, CAST(s_nationkey AS BIGINT) + $NATION,
       |       CAST(1.0 AS DOUBLE) FROM supplier
       |UNION ALL
       |SELECT CAST(o_custkey AS BIGINT) + $CUST, CAST(o_orderkey AS BIGINT) + $ORDER,
       |       CAST(1.0 AS DOUBLE) FROM orders
       |UNION ALL
       |SELECT CAST(l_orderkey AS BIGINT) + $ORDER, CAST(l_partkey AS BIGINT) + $PART,
       |       CAST(COUNT(*) AS DOUBLE) FROM lineitem GROUP BY 1, 2
       |UNION ALL
       |SELECT CAST(l_orderkey AS BIGINT) + $ORDER, CAST(l_suppkey AS BIGINT) + $SUPP,
       |       CAST(COUNT(*) AS DOUBLE) FROM lineitem GROUP BY 1, 2
       |UNION ALL
       |SELECT CAST(l_partkey AS BIGINT) + $PART, CAST(l_suppkey AS BIGINT) + $SUPP,
       |       CAST(COUNT(*) AS DOUBLE) FROM lineitem GROUP BY 1, 2""".stripMargin

  /** Undirected (symmetrized) view: each directed edge emitted both ways.
    * The reference treats edges undirected for CC/LPA/triangles
    * (graph_objects.hpp num_edges() = in+out).
    */
  def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("weight"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))

  /** Per-vertex degrees: (id, out_deg, in_deg, deg). Matches the reference's
    * degree file (sharder.hpp:996-1006) semantics.
    */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.select(col("src").as("id"), lit(1L).as("o"), lit(0L).as("i"))
    val in  = edges.select(col("dst").as("id"), lit(0L).as("o"), lit(1L).as("i"))
    out.unionAll(in).groupBy("id")
      .agg(sum("o").as("out_deg"), sum("i").as("in_deg"))
      .withColumn("deg", col("out_deg") + col("in_deg"))
  }

  /** All vertex ids appearing as an endpoint. */
  def vertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id")))
      .distinct()

  /** The partition count of every loop's static edge views and states:
    * the session's effective `spark.sql.shuffle.partitions`, the count
    * Spark's own exchanges use (its default, 200, on a session that never
    * sets it — a caller-side fallback would disagree with those exchanges).
    */
  def partitions(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** The static edge side of an iterative loop, laid out once and read by
    * every superstep — GraphChi's sharder lays out a graph's edges once for
    * all vertex programs (src/preprocessing/sharder.hpp). `edges` is
    * hash-partitioned on `key` into [[partitions]] partitions, sorted by
    * `key` within each, and persisted lazily: the caller materializes it
    * with its own action and unpersists it once the loop's result is
    * materialized. A superstep that joins its key-partitioned state on
    * `key` then neither exchanges nor sorts the E-row side, once the join
    * takes the view through [[scatterView]]; the planner alone would
    * broadcast a view under the auto-broadcast threshold again in every
    * superstep.
    *
    * `undirected` gives the deduplicated symmetric (src, dst) form in ONE
    * E-row exchange: repartitioning first satisfies the distinct
    * aggregate's ClusteredDistribution(src, dst) (hash keys ⊆ clustering),
    * so the aggregate adds no exchange; distinct-then-repartition exchanges
    * the 2E-row union twice.
    *
    * A columnar persist, not an RDD checkpoint: a round-6 A/B at 176 M
    * edges read 2.5x slower supersteps off an RDD-checkpointed static side
    * (deserialized UnsafeRow blocks, several-fold larger than the
    * compressed columnar cache and scanned without vectorization), and the
    * InMemoryRelation's stats also reset Catalyst's size estimates.
    */
  def edgeView(edges: DataFrame, key: String,
      undirected: Boolean = false): DataFrame = {
    val parts = partitions(edges.sparkSession)
    val laid =
      if (undirected) this.undirected(edges).select("src", "dst")
        .repartition(parts, col(key)).distinct()
      else edges.repartition(parts, col(key))
    laid.sortWithinPartitions(key).persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** `view` (an [[edgeView]] layout) as a superstep's scatter join of
    * `state` on `state(key)` should take it. When the state's leaf — the
    * store's rebased checkpoint — advertises the view's layout, hash
    * partitioning on `key` into [[partitions]] partitions, the view is
    * hinted to a sort-merge join, which then needs neither an exchange nor
    * a broadcast. Otherwise the join is left to the planner: a state read
    * back from a durable table, or checkpointed under AQE, advertises no
    * partitioning, and a hinted join would exchange and sort the state.
    */
  def scatterView(view: DataFrame, state: DataFrame, key: String): DataFrame = {
    val parts = partitions(state.sparkSession)
    val laidOut = state.queryExecution.analyzed.collectLeaves() match {
      case Seq(leaf: LogicalRDD) => leaf.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), n) => a.name == key && n == parts
        case _ => false
      }
      case _ => false
    }
    if (laidOut) view.hint("merge") else view
  }
}
