package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared iterative-dataflow helpers. */
object Dataflow {

  /** Eager checkpoint + STATS REBASE for loops whose state is referenced
    * multiplicatively. `localCheckpoint` alone is not enough: the returned
    * LogicalRDD inherits the replaced plan's *estimated* sizeInBytes, and
    * Catalyst's inner-join size estimate is the PRODUCT of its children —
    * a loop that joins its state leaf k (>1) times per iteration grows the
    * estimate's BigInteger bit-length ~k× every iteration, until a single
    * stats multiplication runs for minutes and blocks safepoints (observed:
    * SVD++ sweep 7 spending 100 s inside BigInteger.multiplyToomCook3;
    * the 22 M-edge Louvain probe's driver pinned a core inside
    * SizeInBytesOnlyStatsPlanVisitor by round 14 — SuperstepLoopsSpec
    * shows the digit count multiplying per round). Delta-iterated algos (CC,
    * SCC, k-cores) dodge this structurally — semi/anti joins take the left
    * child's size, no product — but any loop that inner-joins its state
    * more than once per round cannot.
    *
    * The rebase re-wraps the SAME checkpointed InternalRow RDD in a
    * LogicalRDD WITHOUT origin stats: zero extra materialization, zero
    * row conversion (the round-4 `createDataFrame(cp.rdd, cp.schema)`
    * version paid an external-Row round trip on every downstream scan and
    * dropped the checkpoint's output partitioning; this keeps both). The
    * conservative default leaf size also keeps the optimizer from ever
    * broadcasting the state side — right for cluster-scale state.
    *
    * @param eager false defers materialization to the first action on the
    *   result (RDD.localCheckpoint marks the RDD; the checkpoint happens at
    *   the end of the first job that computes it) — used by the superstep
    *   driver so the job of its convergence fold materializes, caches and
    *   lineage-truncates the state in one pass. The stats rebase is
    *   independent of eagerness: it only rewraps the same marked RDD.
    *
    * @param level the blocks' storage level. Spark's default for a local
    *   checkpoint, the deserialized MEMORY_AND_DISK, keeps one row object
    *   per row: a 10,000-row `(id, value, delta)` state is 320,000 B of
    *   `UnsafeRow` data but is stored as 884,952 B, 2.77× the data.
    *   [[graft.engine.LocalStore]] stores every superstep state as
    *   MEMORY_AND_DISK_SER instead: 430,000 B under Kryo and 502,400 B
    *   under the Java serializer, at bit-identical results. The loop
    *   states of SVD++, timeSVD++, Louvain and AdPredictor keep the
    *   default, because serialized blocks are deserialized on every read:
    *   in 4 interleaved sf0.01 sweep rounds `timesvdpp_drift` read 203.8 s
    *   median serialized against 181.1 s (range 162.8–193.4 s)
    *   deserialized (BENCH.md, "Serialized superstep state").
    */
  def checkpointRebased(df: DataFrame, eager: Boolean = true,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    org.apache.spark.sql.graft.GraftSqlBridge.dropOriginStats(
      df.localCheckpoint(eager, level))
}
