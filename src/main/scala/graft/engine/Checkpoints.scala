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
  /** Superstep `iter`'s table, to use downstream. May be lazy: the first
    * action on the result materializes it and truncates its lineage. */
  def persist(state: DataFrame, iter: Int): DataFrame
  /** Append a completed-superstep record (the `.deltalog` analog). */
  def log(m: SuperstepMetrics): Unit
  /** Most recent completed superstep `(iter, state)` for resume, if any. */
  def resumePoint(): Option[(Int, DataFrame)]
  /** Drop cached/earlier state no longer needed (best-effort). */
  def release(state: DataFrame): Unit = ()
  /** Per-partition sizes of superstep `iter`'s persisted table, where the
    * store can measure them; a wrapping store passes the call through. */
  def partitionMetrics(iter: Int): Seq[PartitionMetric] = Nil
}

final case class PartitionMetric(partition: Int, bytes: Long)

final case class SuperstepMetrics(
    iter: Int,
    rows: Long,
    bytes: Long,
    delta: Double,
    active: Long,
    wallSec: Double,
    partitions: Seq[PartitionMetric]) {
  def toJson: String = {
    val parts = partitions
      .map(p => s"""{"p":${p.partition},"bytes":${p.bytes}}""")
      .mkString("[", ",", "]")
    s"""{"iter":$iter,"rows":$rows,"bytes":$bytes,"delta":$delta,""" +
      s""""active":$active,"wall_sec":$wallSec,"partitions":$parts}"""
  }
}

/** Fast in-memory store for tests/benchmarks: `localCheckpoint` truncates
  * lineage without durable IO. Not resumable across JVMs.
  */
final class LocalStore extends StateStore {
  private var history: List[SuperstepMetrics] = Nil
  // LAZY checkpoint (round 6, guide §1/§2): the superstep driver always
  // follows persist() with a one-pass convergence aggregate; a lazy local
  // checkpoint lets that aggregate's job materialize + cache + truncate
  // the state in the SAME job, halving the per-superstep job count (the
  // eager form paid a dedicated materialization job, then re-read the
  // cache for the aggregate). RDD.localCheckpoint marks the RDD and
  // checkpoints at the end of the first job that computes it, so lineage
  // truncation still happens every superstep.
  //
  // Stats-REBASED (graft.core.Dataflow.checkpointRebased): a plain
  // localCheckpoint preserves the replaced plan's ESTIMATED sizeInBytes,
  // and a superstep that references its state twice (scatter + apply)
  // doubles that estimate's BigInteger bit length every superstep; worse,
  // a caller that restarts a Superstep loop inside its own loop (MSF runs
  // CC once per Boruvka round) compounds the products across restarts
  // until the driver pins a core in BigInteger.multiplyToomCook3
  // (observed exactly that in round 6 when the prep tables moved from
  // persist() — whose InMemoryRelation stats reset the estimates — to
  // localCheckpoint, which preserves them). Rebasing every superstep
  // keeps all loop-leaf stats at the bounded engine default.
  override def persist(state: DataFrame, iter: Int): DataFrame =
    graft.core.Dataflow.checkpointRebased(state, eager = false)
  override def log(m: SuperstepMetrics): Unit = history ::= m
  override def resumePoint(): Option[(Int, DataFrame)] = None
  override def release(state: DataFrame): Unit =
    try state.unpersist(false) catch { case _: Throwable => () }
  def metrics: Seq[SuperstepMetrics] = history.reverse
}

/** Durable store: one table per superstep (`state/iter=K`) plus an
  * append-only `manifest.jsonl`, with all table IO routed through a
  * [[TableFormat]] (parquet directories here; Iceberg/Delta on a cluster
  * with a catalog — the commit/compaction claims of SURVEY §2.9 live behind
  * that seam). Resume = last manifest entry whose state table is complete.
  * At cluster scale `dir` is an object store path; partition byte sizes come
  * from the written part-files.
  */
final class DurableStore(spark: SparkSession, dir: String,
    format: TableFormat = null) extends StateStore {
  private val fmt: TableFormat =
    if (format != null) format else new ParquetFormat(dir)
  private val root: Path = Paths.get(dir)
  Files.createDirectories(root)
  private val manifest: Path = root.resolve("manifest.jsonl")

  private def stateTable(iter: Int): String = s"state/iter=$iter"
  private def stateDir(iter: Int): Path =
    Paths.get(fmt.location(stateTable(iter)))

  override def persist(state: DataFrame, iter: Int): DataFrame = {
    fmt.overwrite(state, stateTable(iter))
    fmt.read(spark, stateTable(iter))
  }

  /** Per-partition bytes of superstep `iter`'s parquet files. Knowingly
    * parquet-layout-specific (part- files at the table location): a
    * best-effort local diagnostic, not part of the TableFormat contract —
    * a catalog-format deployment reports sizes from the format's own
    * metadata tables instead and this returns Nil harmlessly.
    */
  override def partitionMetrics(iter: Int): Seq[PartitionMetric] = {
    val out = stateDir(iter)
    if (!Files.isDirectory(out)) return Nil
    Files.list(out).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
      .zipWithIndex
      .map { case (p, i) => PartitionMetric(i, Files.size(p)) }
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
