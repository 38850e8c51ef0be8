package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** PageRank over partition-local CSR blocks — the north_rule's "graph state
  * lives as partition-local CSR blocks inside hash-partitioned Datasets"
  * made literal, and the Spark-native descendant of the reference's shard
  * adjacency encoding (/root/reference/src/preprocessing/sharder.hpp:774-825:
  * per-src edge counts + dst arrays, src-sorted within a shard).
  *
  * PRODUCTION NOTE: the declarative [[graft.algos.PageRank]] DataFrame path
  * is the production plan — measured ~2.8× faster at 22 M edges under a
  * symmetric median-superstep protocol, even with Kryo registered
  * ([[GraftKryoRegistrator]]; BENCH.md "CSR vs DataFrame").
  * The deficit is structural, not just serialization: this path pays a
  * boxed per-superstep leftOuterJoin and a per-partition LongMap rebuild
  * that Tungsten's unsafe-row shuffle + codegen'd SMJ never pay. Kept as
  * the mapPartitions/local-combining showcase (custom-operator ladder case
  * (d)) and as the equality-tested second implementation.
  *
  * Execution model per superstep (Pregel-lite):
  *  1. ranks RDD and CSR blocks share one HashPartitioner on the source id →
  *     zipPartitions is narrow (no shuffle, no join, no sort);
  *  2. each partition scans its CSR arrays once, accumulating contributions
  *     into a local open-addressed LongMap — *map-side combining over the
  *     whole partition*, which collapses hot destinations (power-law skew)
  *     before anything hits the wire;
  *  3. one `reduceByKey` shuffle of ≤ distinct-dst-per-partition rows;
  *  4. a narrow left join applies teleport+damping and measures max |Δ|.
  *
  * This is the imperative per-partition path that DataFrame/Catalyst cannot
  * express (mapPartitions case (d) of the custom-operator ladder); the
  * declarative [[graft.algos.PageRank]] remains the semantics reference and
  * the two are equality-tested. vs the DataFrame path this avoids per-
  * superstep whole-plan optimization, SMJ sorts of the E-row side, and
  * unaggregated E-row shuffles.
  */
object CsrPageRank {

  final case class Block(
      srcIds: Array[Long],     // distinct sources in this partition, sorted
      offsets: Array[Int],     // len = srcIds.length + 1
      dsts: Array[Long],       // concatenated out-neighbor lists
      shares: Array[Double])   // 1/outdeg(src), aligned with dsts

  final case class Result(ranks: RDD[(Long, Double)], supersteps: Int,
      converged: Boolean, deltas: Seq[Double],
      stepSecs: Seq[Double] = Nil) // wall seconds per superstep (A/B probes)

  /** Build hash-partitioned CSR blocks from an edge DataFrame. One block per
    * partition; sources sorted within the block (the shard layout).
    */
  def buildBlocks(edges: DataFrame, parts: Int)
      : RDD[Block] = {
    val part = new HashPartitioner(parts)
    // queryExecution.toRdd instead of .rdd: the public .rdd converts every
    // InternalRow to an external Row (schema lookup + boxing per field per
    // edge); the primitives are extracted here immediately, so reading them
    // straight off the UnsafeRow is safe (nothing retains the reused row)
    // and skips one full per-edge allocation pass (guide step 4).
    edges.select("src", "dst").queryExecution.toRdd
      .map(r => (r.getLong(0), r.getLong(1)))
      .partitionBy(part)
      .mapPartitions({ it =>
        val bySrc = new scala.collection.mutable.LongMap[
          scala.collection.mutable.ArrayBuilder.ofLong]()
        var n = 0
        it.foreach { case (s, d) =>
          bySrc.getOrElseUpdate(s,
            new scala.collection.mutable.ArrayBuilder.ofLong) += d
          n += 1
        }
        val srcIds = bySrc.keys.toArray.sorted
        val offsets = new Array[Int](srcIds.length + 1)
        val dsts = new Array[Long](n)
        val shares = new Array[Double](n)
        var pos = 0
        var i = 0
        while (i < srcIds.length) {
          val ds = bySrc(srcIds(i)).result()
          offsets(i) = pos
          val share = 1.0 / ds.length
          var j = 0
          while (j < ds.length) {
            dsts(pos) = ds(j); shares(pos) = share; pos += 1; j += 1
          }
          i += 1
        }
        offsets(srcIds.length) = pos
        Iterator.single(Block(srcIds, offsets, dsts, shares))
      }, preservesPartitioning = true)
  }

  val Teleport = 0.15
  val Damping = 0.85

  /** Run PageRank to `tol` convergence or `maxIters`. Vertices = all edge
    * endpoints; semantics identical to graft.algos.PageRank (rank_0 = 1.0,
    * dangling vertices keep their rank).
    */
  def run(spark: SparkSession, edges: DataFrame, tol: Double,
      maxIters: Int): Result = {
    val parts = graft.core.LinkGraph.partitions(spark)
    val part = new HashPartitioner(parts)

    val blocks = buildBlocks(edges, parts)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vertices = edges.select("src").union(edges.select("dst"))
      .distinct().queryExecution.toRdd.map(r => (r.getLong(0), ()))
      .partitionBy(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    vertices.count(); blocks.count()

    var ranks: RDD[(Long, Double)] = vertices.mapValues(_ => 1.0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var persisted: RDD[_] = ranks // the currently-persisted state ancestor

    val deltas = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stepSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val stepT0 = System.nanoTime()
      // 1+2: narrow per-partition CSR scan with local combining
      val contribs = blocks.zipPartitions(ranks, preservesPartitioning = false) {
        (bIt, rIt) =>
          if (!bIt.hasNext) Iterator.empty
          else {
            val block = bIt.next()
            val rank = new scala.collection.mutable.LongMap[Double](
              block.srcIds.length * 2)
            rIt.foreach { case (id, r) => rank(id) = r }
            val acc = new scala.collection.mutable.LongMap[Double]()
            var i = 0
            while (i < block.srcIds.length) {
              val r = rank.getOrElse(block.srcIds(i), 0.0)
              var e = block.offsets(i)
              val end = block.offsets(i + 1)
              while (e < end) {
                val c = r * block.shares(e)
                acc(block.dsts(e)) = acc.getOrElse(block.dsts(e), 0.0) + c
                e += 1
              }
              i += 1
            }
            acc.iterator
          }
      }
      // 3: the single shuffle
      val sums = contribs.reduceByKey(part, _ + _)
      // 4: narrow apply + delta in one pass (both sides share `part`)
      val prev = ranks
      val stateNext = prev.leftOuterJoin(sums, part).mapValues {
        case (old, s) =>
          val nr = Teleport + Damping * s.getOrElse(0.0)
          (nr, math.abs(nr - old))
      }.persist(StorageLevel.MEMORY_AND_DISK)
      stateNext.localCheckpoint() // lineage truncation per superstep
      val delta = stateNext.values.map(_._2).max() // materializes checkpoint
      persisted.unpersist(false)
      persisted = stateNext
      ranks = stateNext.mapValues(_._1)
      deltas += delta
      stepSecs += (System.nanoTime() - stepT0) / 1e9
      converged = delta <= tol
      iter += 1
    }
    blocks.unpersist(false); vertices.unpersist(false)
    Result(ranks, iter, converged, deltas.toSeq, stepSecs.toSeq)
  }
}
