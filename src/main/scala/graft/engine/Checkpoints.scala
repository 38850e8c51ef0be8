package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Per-superstep state persistence. Replaces the reference engine's
  * mutate-in-place shard files + `.deltalog`
  * (/root/reference/src/engine/graphchi_engine.hpp:574-599): every superstep
  * materializes the state table, truncates lineage (otherwise iterative plans
  * grow without bound), and records per-partition row/byte metrics so a run
  * can resume mid-iteration.
  */
trait StateStore {
  /** Superstep `iter`'s table, to use downstream. Called before any job of
    * the superstep runs. May be lazy: the first job over the result — the
    * driver's convergence fold — materializes it and truncates its
    * lineage. */
  def persist(state: DataFrame, iter: Int): DataFrame
  /** Append a completed-superstep record (the `.deltalog` analog). */
  def log(m: SuperstepMetrics): Unit
  /** Most recent completed superstep `(iter, state)` for resume, if any. */
  def resumePoint(): Option[(Int, DataFrame)]
  /** Drop cached/earlier state no longer needed (best-effort). */
  def release(state: DataFrame): Unit = ()
}

/** One partition of a superstep's state: its rows and their `UnsafeRow`
  * bytes, counted by the job that materializes the state. */
final case class PartitionMetric(partition: Int, rows: Long, bytes: Long)

final case class SuperstepMetrics(
    iter: Int,
    rows: Long,
    bytes: Long,
    delta: Double,
    active: Long,
    wallSec: Double,
    partitions: Seq[PartitionMetric]) {
  /** One JSON object; a non-finite delta (a NaN or infinite change) is
    * written as `null`, which JSON has no number for. */
  def toJson: String = {
    val parts = partitions
      .map(p => s"""{"p":${p.partition},"rows":${p.rows},"bytes":${p.bytes}}""")
      .mkString("[", ",", "]")
    val d = if (delta.isNaN || delta.isInfinite) "null" else delta.toString
    s"""{"iter":$iter,"rows":$rows,"bytes":$bytes,"delta":$d,""" +
      s""""active":$active,"wall_sec":$wallSec,"partitions":$parts}"""
  }
}

/** Fast in-memory store for tests/benchmarks: `localCheckpoint` truncates
  * lineage without durable IO. Not resumable across JVMs.
  */
final class LocalStore extends StateStore {
  private var history: List[SuperstepMetrics] = Nil
  // A lazy local checkpoint: the driver's convergence fold is the first
  // job over the result, so it computes, caches and lineage-truncates the
  // state in one pass (RDD.localCheckpoint marks the RDD and checkpoints
  // it at the end of the first job that computes it).
  //
  // Stats-rebased (graft.core.Dataflow.checkpointRebased): a plain
  // localCheckpoint keeps the replaced plan's estimated sizeInBytes, and a
  // superstep that references its state twice (scatter + apply) doubles
  // that estimate's BigInteger bit length every superstep — compounded
  // across restarts when a caller reruns a loop inside its own loop (MSF
  // runs CC once per Boruvka round), until the driver pins a core in
  // BigInteger.multiplyToomCook3. Rebasing every superstep keeps all
  // loop-leaf stats at the bounded engine default.
  override def persist(state: DataFrame, iter: Int): DataFrame =
    graft.core.Dataflow.checkpointRebased(state, eager = false)
  override def log(m: SuperstepMetrics): Unit = history ::= m
  override def resumePoint(): Option[(Int, DataFrame)] = None
  // The checkpoint's blocks: a Dataset.unpersist would drop only
  // cache-manager entries, and leave them to the next GC.
  override def release(state: DataFrame): Unit =
    org.apache.spark.sql.graft.GraftSqlBridge.unpersistStateLeaf(state)
  def metrics: Seq[SuperstepMetrics] = history.reverse
}

/** Durable store: one table per superstep (`state/iter=K`) plus an
  * append-only `manifest.jsonl`, with all table IO routed through a
  * [[TableFormat]] (parquet directories here; Iceberg/Delta on a cluster
  * with a catalog — the commit/compaction claims of SURVEY §2.9 live behind
  * that seam). Resume = last manifest entry whose state table is complete.
  * At cluster scale `dir` is an object store path.
  */
final class DurableStore(spark: SparkSession, dir: String,
    format: TableFormat = null) extends StateStore {
  private val fmt: TableFormat =
    if (format != null) format else new ParquetFormat(dir)
  private val root: Path = Paths.get(dir)
  Files.createDirectories(root)
  private val manifest: Path = root.resolve("manifest.jsonl")

  private def stateTable(iter: Int): String = s"state/iter=$iter"

  /** Writes the table and reads it back with the schema just written, so
    * no schema-inference job runs. Reading back, rather than handing on
    * the written frame, keeps nothing of the superstep cached. */
  override def persist(state: DataFrame, iter: Int): DataFrame = {
    fmt.overwrite(state, stateTable(iter))
    fmt.read(spark, stateTable(iter), Some(state.schema))
  }

  override def log(m: SuperstepMetrics): Unit = {
    Files.writeString(
      manifest,
      m.toJson + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  override def resumePoint(): Option[(Int, DataFrame)] = {
    if (!Files.exists(manifest)) return None
    val iters = Files.readAllLines(manifest).asScala
      .flatMap { line =>
        """"iter":(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toInt)
      }
    // completeness is the format's call (parquet: _SUCCESS; catalog
    // formats: their transaction log) — no parquet layout knowledge here
    iters.sorted.reverse
      .find(i => fmt.exists(stateTable(i)))
      .map(i => (i, fmt.read(spark, stateTable(i))))
  }
}
