package graft.vectors

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, Encoder}

/** The one broadcast-scan kernel of the vector family and of FRAP's
  * distance stage (`frap.Kernels` pair matrices, `FrapPipeline`'s radius
  * test): a small driver-side array (query set, centroid table, codebooks,
  * hyperplanes, per-graph label rows) is broadcast and one typed
  * `mapPartitions` scans the big side in unboxed loops — no N·|small| join
  * rows and no interpreted (CodegenFallback) higher-order folds. Callers
  * keep only their own distance arithmetic.
  *
  * Invariants the callers rely on:
  *   - [[dot]] and [[l2norm]] fold left to right from 0.0, the order of
  *     `Similarity.dot` / `Similarity.l2norm`, so every score is
  *     bit-identical to its Column form on the same doubles.
  *   - Doubles compare through [[orderKey]], which is Spark's order
  *     (`java.lang.Double.compare` with -0.0 = 0.0: NaN greatest).
  *   - Ties break toward the smaller id: [[nearest]] keeps the first
  *     minimum over candidates sorted by id, [[TopK]] orders (key, id).
  *   - The global top-k is a subset of the union of the partition top-ks,
  *     so a final window over the [[topK]] survivors is exact.
  *
  * Laziness: building a plan over a [[collect]]ed small side runs that
  * collect (Spark's incremental `limit` take) when the plan is built, not
  * when it executes.
  */
object Scan {

  /** Driver-memory bound on a collected small side, in rows. Query sets,
    * centroid tables and codebooks are model-sized, never O(corpus).
    */
  val MaxBroadcastRows: Int = 1 << 20

  /** The small side on the driver, at most [[MaxBroadcastRows]] rows. */
  def collect[S](small: Dataset[S]): Array[S] = {
    val rows = small.limit(MaxBroadcastRows + 1).collect()
    require(rows.length <= MaxBroadcastRows,
      s"broadcast side exceeds MaxBroadcastRows=$MaxBroadcastRows rows")
    rows
  }

  /** `scan` over every partition of `big`, reading `small` from one
    * broadcast.
    */
  def broadcastScan[S: ClassTag, B, R: Encoder](small: S, big: Dataset[B])(
      scan: (S, Iterator[B]) => Iterator[R]): Dataset[R] = {
    val bc = big.sparkSession.sparkContext.broadcast(small)
    big.mapPartitions(it => scan(bc.value, it))
  }

  /** Σ aᵢ·bᵢ, the primitive twin of `Similarity.dot`. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < a.length) { s += a(j) * b(j); j += 1 }
    s
  }

  /** The primitive twin of `Similarity.l2norm` (`math.sqrt` and the Column
    * `sqrt` are the same correctly-rounded IEEE operation).
    */
  def l2norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  /** The primitive twin of `Similarity.cosine`: 0.0 when the norm product
    * is 0, else dot / (na · nb).
    */
  def cosine(dot: Double, na: Double, nb: Double): Double = {
    val nn = na * nb
    if (nn == 0.0) 0.0 else dot / nn
  }

  /** A long whose signed order is Spark's order of doubles: -0.0 maps to
    * 0.0's key and every NaN to one key above +Inf. `~orderKey(x)` ranks
    * descending; [[fromOrderKey]] inverts it.
    */
  def orderKey(x: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(x + 0.0)
    b ^ ((b >> 63) & Long.MaxValue)
  }

  def fromOrderKey(k: Long): Double =
    java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & Long.MaxValue))

  /** Index of the first minimum of `key(0)`, ..., `key(keys.length - 1)`,
    * each also stored in `keys`; -1 when there are no candidates.
    */
  def nearest(keys: Array[Long])(key: Int => Long): Int = {
    var best = -1
    var i = 0
    while (i < keys.length) {
      keys(i) = key(i)
      if (best < 0 || keys(i) < keys(best)) best = i
      i += 1
    }
    best
  }

  /** The k smallest (key, id) pairs offered, ordered by key, then id. The
    * heap's root is the worst pair kept, so a full heap rejects most offers
    * with one unboxed comparison.
    */
  final class TopK(k: Int) {
    private val heap = mutable.PriorityQueue.empty[(Long, Long)]
    def offer(key: Long, id: Long): Unit =
      if (heap.size < k) heap.enqueue((key, id))
      else if (k > 0) {
        val worst = heap.head
        if (key < worst._1 || (key == worst._1 && id < worst._2)) {
          heap.dequeue(); heap.enqueue((key, id))
        }
      }
    def iterator: Iterator[(Long, Long)] = heap.iterator
  }

  /** Every query's top-k over one partition: `offer(row, tops)` offers the
    * row to `tops(q)` for each query q. Yields (q, key, id).
    */
  def topK[B](rows: Iterator[B], queries: Int, k: Int)(
      offer: (B, Array[TopK]) => Unit): Iterator[(Int, Long, Long)] = {
    val tops = Array.fill(queries)(new TopK(k))
    rows.foreach(offer(_, tops))
    tops.iterator.zipWithIndex.flatMap { case (t, q) =>
      t.iterator.map { case (key, id) => (q, key, id) }
    }
  }

  /** SRP sign bits of `v`: bit i = [dot(v, planes(i)) > 0] under Spark's
    * order, where NaN is greater than every number, so a NaN dot sets its
    * bit as Spark's Column `>` does.
    */
  def srpSignature(v: Array[Double], planes: Array[Array[Double]]): Long = {
    var b = 0L
    var i = 0
    while (i < planes.length) {
      if (orderKey(dot(v, planes(i))) > 0L) b |= 1L << i
      i += 1
    }
    b
  }
}
