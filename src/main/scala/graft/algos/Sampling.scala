package graft.algos

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.LinkGraph

/** Training-data sampling over the link graph — the export-stage operators
  * a GNN / link-prediction pipeline needs on top of the engine: bounded
  * fan-out neighbor sampling (GraphSAGE-style mini-batch subgraphs) and
  * negative-edge sampling. Both are keyed by the repo's engine-portable
  * Lehmer hash ([[GraphOps.lehmerHash]]), so the DuckDB oracle reproduces
  * every sampled row exactly — sampling stays deterministic under resume
  * and across engines, the same contract as Export's shuffle-to-shards.
  */
object Sampling {

  /** Fan-out neighbor sampling: starting from `seeds`, keep at most
    * fanouts(h-1) undirected neighbors per frontier vertex at hop h, ranked
    * by lehmerHash(src, dst, seed+h) with dst as the tie-break. Returns
    * (hop, src, dst) sampled edges. The hop-h frontier is the DISTINCT
    * union of hop-(h-1) sample targets (embedding-table semantics: each
    * vertex's neighborhood is materialized once per hop — per-path sample
    * trees would redo hub vertices once per occurrence).
    *
    * Scale shape: per hop, one semi-join (frontier ⋉ adjacency) and one
    * row_number window partitioned by src — per-key work is bounded by max
    * degree, the same envelope as the triangle orientation. If degrees are
    * extreme, the numbered-out-edges equi-join used by [[RandomWalks]]
    * (k point lookups per vertex, no window) is the drop-in alternative.
    */
  def neighborSample(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      fanouts: Seq[Int], seed: Long = 42L): DataFrame = {
    require(fanouts.nonEmpty, "need at least one hop fanout")
    val und = LinkGraph.edgeView(edges, "src", undirected = true)
    und.count()

    var frontier = seeds.select(col("id").as("src")).distinct()
      .localCheckpoint(true)
    val out = ArrayBuffer[DataFrame]()
    fanouts.zipWithIndex.foreach { case (k, h) =>
      val hop = h + 1
      val cand = und.join(frontier, Seq("src"), "left_semi")
      val ranked = cand
        .withColumn("hkey",
          GraphOps.lehmerHash(col("src"), col("dst"), seed + hop))
        .withColumn("rn", row_number().over(
          Window.partitionBy("src").orderBy(col("hkey"), col("dst"))))
        .filter(col("rn") <= k)
        .select(lit(hop.toLong).as("hop"), col("src"), col("dst"))
        .localCheckpoint(true)
      out += ranked
      frontier = ranked.select(col("dst").as("src")).distinct()
        .localCheckpoint(true)
    }
    und.unpersist(false)
    out.reduce(_ unionAll _)
  }

  /** Negative sampling for link-prediction training: for each distinct
    * positive source, propose `oversample·k` pseudo-random vertices
    * (proposal i ↦ the vertex whose dense index is
    * lehmerHash(src, i, seed) mod |V|), drop self and real undirected
    * neighbors, dedup repeated proposals on min i, and keep the first k
    * survivors in proposal order. Returns (src, dst, neg_rank ∈ 1..k);
    * sources adjacent to nearly all of V may yield fewer than k rows
    * (raise `oversample` — the trade is proposal volume, never bias).
    *
    * The dense vertex index is assigned with the SAME range-sort +
    * zipWithIndex scan as EdgeDerive.catalog (no single-partition window);
    * the real-neighbor filter is a left-anti equi-join on (src, dst).
    */
  def negativeSample(spark: SparkSession, edges: DataFrame, k: Int,
      oversample: Int = 4, seed: Long = 42L): DataFrame = {
    val und = LinkGraph.undirected(edges).select("src", "dst").distinct()
    val verts = LinkGraph.vertices(edges)
      .repartitionByRange(col("id")).sortWithinPartitions("id")
    val idx = spark.createDataFrame(
      verts.rdd.zipWithIndex.map { case (row, i) => (i, row.getLong(0)) })
      .toDF("vidx", "vid")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nV = idx.count()

    val props = edges.select("src").distinct()
      .select(col("src"),
        explode(sequence(lit(0L), lit(oversample.toLong * k - 1))).as("i"))
      .withColumn("vidx", GraphOps.lehmerHash(col("src"), col("i"), seed) % nV)
      .join(idx, "vidx")
      .select(col("src"), col("i"), col("vid").as("dst"))
      .filter(col("src") =!= col("dst"))
      .join(und, Seq("src", "dst"), "left_anti")
    // checkpointed before `idx` is released, so the result still computes
    val out = props.groupBy("src", "dst").agg(min("i").as("i"))
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy("src").orderBy("i")).cast("long"))
      .filter(col("neg_rank") <= k)
      .select("src", "dst", "neg_rank")
      .localCheckpoint(true)
    idx.unpersist(false)
    out
  }
}
