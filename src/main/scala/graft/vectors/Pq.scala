package graft.vectors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization for ANN (Jégou, Douze & Schmid, TPAMI 2011) — the
  * compression leg of the IVF family [[KMeans.ivfSearch]] already covers
  * the pruning leg of: split the d-dim embedding into `m` subspaces of
  * d/m dims, train an independent `ks`-centroid codebook per subspace
  * (grid-exact Lloyd, the [[KMeans]] discipline), store each vector as m
  * small codes, and answer queries by asymmetric distance computation
  * (ADC): per query, one m×ks table of exact subspace distances, then
  * every stored vector scores as the sum of m table lookups. At scale
  * the scan reads m bytes per vector instead of d floats — the classic
  * 32× memory/bandwidth compression — and the whole scan stays a
  * broadcast-join + sum aggregate, no N×N anything.
  *
  * Everything inherits the integer-grid exactness: subvectors are
  * quantized longs, codebook training is the same assign/floorDiv-update
  * loop as [[KMeans.lloyd]] (run JOINTLY over all m subspaces in one
  * dataflow — `sub` rides every key), distances are exact integer sums,
  * ties break toward the smaller cid/vec_id. The DuckDB oracle replays
  * training, encoding, and ADC bit for bit.
  *
  * Training cost shape: assignment scans the N·m subvectors against a
  * BROADCAST m·ks-row codebook ([[assign]]), emitting N·m narrow rows
  * (vec_id, sub, cid, d2); the update shuffles m·ks·(d/m) = ks·d rows.
  * ADC scoring joins the m·ks-row distance-table broadcast to the code
  * table and sums m rows per (query, vector) — the scan IS the top-k
  * candidate stream, which is the point of PQ (compressed exhaustive, no
  * recall cliff from pruning; compose with IVF cells when N demands it).
  */
object Pq {

  /** A pre-quantized long-array column cut into m slices: a (pos, slice)
    * generator column — select it with `.as(Seq("sub", "sqv"))`. Shared by
    * the raw-vector and residual-vector subspace streams.
    */
  private def slices(vec: Column, m: Int): Column = {
    val dm = (size(vec) / m).cast("int")
    posexplode(transform(sequence(lit(0), lit(m - 1)),
      s => slice(vec, s * dm + 1, dm)))
  }

  /** Quantized subvectors (vec_id, sub, sqv): the d-dim grid vector cut
    * into m arrays of d/m longs.
    */
  def subvectors(emb: DataFrame, scale: Int, m: Int): DataFrame =
    emb.select(col("vec_id"),
      slices(KMeans.quantize(col("embedding"), scale), m).as(Seq("sub", "sqv")))

  /** Per-subspace seed codebooks: cid 0..ks-1 = the ks lowest vec_ids'
    * subvectors (the [[KMeans.seedCentroids]] convention, per sub).
    */
  def seedCodebooks(sv: DataFrame, ks: Int): DataFrame = {
    val seeds = sv.select(col("vec_id")).distinct()
      .orderBy("vec_id").limit(ks)
      .select(col("vec_id"),
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("vec_id")) - 1).as("cid"))
    sv.join(broadcast(seeds), "vec_id")
      .select(col("sub"), col("cid"), col("sqv").as("scv"))
  }

  /** Nearest codebook entry per (vector, subspace): (vec_id, sub, cid,
    * d2), ties toward the smaller cid — one [[Scan]] over the broadcast
    * codebooks. Subspaces with no codebook entries emit nothing, like an
    * inner join.
    */
  def assign(sv: DataFrame, cb: DataFrame): DataFrame = {
    val spark = sv.sparkSession
    import spark.implicits._
    val cbRows = Scan.collect(cb.select(col("sub"), col("cid"), col("scv"))
      .as[(Int, Int, Array[Long])])
    val bySub = Array.tabulate(cbRows.map(_._1).maxOption.fold(0)(_ + 1)) { s =>
      cbRows.filter(_._1 == s).sortBy(_._2).map(t => (t._2, t._3))
    }
    Scan.broadcastScan(bySub, sv.select(col("vec_id"), col("sub"), col("sqv"))
        .as[(Long, Int, Array[Long])]) { (cbs, it) =>
      val d = cbs.map(e => new Array[Long](e.length))
      it.flatMap { case (id, sub, v) =>
        val b = if (!cbs.indices.contains(sub)) -1
          else Scan.nearest(d(sub))(i => KMeans.dist2Local(v, cbs(sub)(i)._2))
        Option.when(b >= 0)((id, sub, cbs(sub)(b)._1, d(sub)(b)))
      }
    }.toDF("vec_id", "sub", "cid", "d2")
  }

  /** One joint Lloyd step over all m codebooks: assign, then exact
    * per-coordinate floorDiv means per (sub, cid, spos). Empty entries
    * drop (the [[KMeans.lloydStep]] convention).
    */
  def step(sv: DataFrame, cb: DataFrame): DataFrame =
    assign(sv, cb)
      .join(sv, Seq("vec_id", "sub"))
      .select(col("sub"), col("cid"),
        posexplode(col("sqv")).as(Seq("spos", "v")))
      .groupBy("sub", "cid", "spos")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .withColumn("v",
        ((col("s") - pmod(col("s"), col("n"))) / col("n")).cast("long"))
      .groupBy("sub", "cid")
      .agg(transform(sort_array(collect_list(struct(col("spos"), col("v")))),
        s => s.getField("v")).as("scv"))

  /** Train `iters` joint Lloyd iterations; returns (sub, cid, scv). */
  def trainCodebooks(sv: DataFrame, ks: Int, iters: Int): DataFrame = {
    var cb = seedCodebooks(sv, ks).localCheckpoint(true)
    for (_ <- 1 to iters) cb = step(sv, cb).localCheckpoint(true)
    cb
  }

  /** PQ codes (vec_id, sub, code) under trained codebooks. */
  def encode(sv: DataFrame, cb: DataFrame): DataFrame =
    assign(sv, cb).select(col("vec_id"), col("sub"), col("cid").as("code"))

  /** ADC top-k: every query scores every encoded vector as
    * Σ_sub d2(query subvector, codebook[code]) — exact integer sums over
    * the broadcast per-query distance tables. Output (query_id, rank,
    * vec_id, adist2), rank 1..k by (adist2, vec_id).
    */
  def adcTopK(emb: DataFrame, queries: DataFrame, scale: Int, m: Int,
      ks: Int, iters: Int, k: Int): DataFrame = {
    val sv = subvectors(emb, scale, m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = trainCodebooks(sv, ks, iters)
    val codes = encode(sv, cb)
    val qsv = subvectors(queries.select(col("vec_id"), col("embedding")),
      scale, m)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("sqv").as("qsv"))
    // per-query subspace distance table: |Q|·m·ks rows, broadcastable
    val table = qsv.join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid").as("code"),
        KMeans.dist2(col("qsv"), col("scv")).as("pd2"))
    val scored = codes.join(broadcast(table), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("adist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adist2"), col("vec_id"))
    val out = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adist2"))
    sv.unpersist(false)
    out
  }

  /** EXACT grid-L2 top-k per query over the quantized corpus —
    * (query_id, vec_id), rank by (d2, vec_id), self-matches included
    * (mirroring the ADC scans, which score the query's own row too).
    * Shared baseline of [[adcRecall]] and [[ivfAdcRecall]].
    */
  private def gridExactTopK(qv: DataFrame, qq: DataFrame, k: Int): DataFrame = {
    val spark = qv.sparkSession
    import spark.implicits._
    val qs = Scan.collect(qq.as[(Long, Array[Long])])
    val pruned = Scan.broadcastScan(qs, qv.as[(Long, Array[Long])]) {
      (qs, it) => Scan.topK(it, qs.length, k) { case ((id, v), tops) =>
        var q = 0
        while (q < qs.length) {
          tops(q).offer(KMeans.dist2Local(v, qs(q)._2), id)
          q += 1
        }
      }.map { case (q, d2, id) => (qs(q)._1, id, d2) }
    }.toDF("query_id", "vec_id", "d2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2"), col("vec_id"))
    pruned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"))
  }

  /** Recall@k of the ADC ranking against the EXACT grid-L2 top-k on the
    * full vectors: (query_id, hits) with hits = |ADC top-k ∩ exact
    * top-k| ∈ 0..k — the driver-visible pruning-quality gate the
    * LSH/IVF paths already have.
    */
  def adcRecall(emb: DataFrame, queries: DataFrame, scale: Int, m: Int,
      ks: Int, iters: Int, k: Int): DataFrame = {
    val approx = adcTopK(emb, queries, scale, m, ks, iters, k)
    val qv = emb.select(col("vec_id"),
      KMeans.quantize(col("embedding"), scale).as("qv"))
    val qq = queries.select(col("vec_id").as("query_id"),
      KMeans.quantize(col("embedding"), scale).as("qqv"))
    val exact = gridExactTopK(qv, qq, k)
    qq.select("query_id")
      .join(approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("h"), lit(0L)).as("hits"))
  }

  /** IVF-ADC (Jégou et al. TPAMI'11 §V, the FAISS `IVFADC` recipe): the
    * composition of the ANN family's pruning leg ([[KMeans.ivfSearch]]'s
    * trained coarse cells) with its compression leg (PQ codes) — the
    * standard billion-scale shape, where neither alone survives: flat IVF
    * still reads d floats per probed vector, exhaustive PQ still reads
    * every vector. Coarse cells come from grid-exact Lloyd; PQ codebooks
    * are trained on the RESIDUALS qv − centroid(cell) (exact integer
    * subtraction on the grid, so the entire chain stays bit-reproducible
    * and the DuckDB oracle replays it); a query probes its `nprobe`
    * nearest cells and scores ONLY their members, each against the
    * per-(query, probed-cell) residual distance table — the residual
    * depends on which cell is probed, which is why the table carries
    * `cell` (the classic IVFADC detail).
    *
    * Scale shape: centroids (C rows), codebooks (m·ks rows), and the
    * per-query tables (|Q|·nprobe·m·ks rows) are all broadcasts; the
    * corpus-sized streams are the one-off training/encode passes (N·m
    * narrow rows) and the probed scan of N·nprobe/C members × m code
    * lookups — m bytes read per candidate instead of d floats.
    * Output (query_id, rank, vec_id, adist2), rank 1..k by
    * (adist2, vec_id); queries score themselves like [[adcTopK]].
    */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      cells: Int, cellIters: Int, m: Int, ks: Int, pqIters: Int,
      nprobe: Int, scale: Int = 1000): DataFrame = {
    val q = corpus.select(col("vec_id"),
        KMeans.quantize(col("embedding"), scale).as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = KMeans.centroidsOf(q, cells, cellIters) // (cid, cv) broadcast
    // residual stream: every vector shifted by its own cell's centroid
    val res = KMeans.assignTo(q, cents)
      .select(col("vec_id"), col("qv"), col("cid").as("cell"))
      .join(broadcast(cents.select(col("cid").as("cell"), col("cv"))), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("qv"), col("cv"), (x, y) => x - y).as("rv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sv = res.select(col("vec_id"), slices(col("rv"), m).as(Seq("sub", "sqv")))
    val cb = trainCodebooks(sv, ks, pqIters)
    val codes = encode(sv, cb)
      .join(res.select(col("vec_id"), col("cell")), "vec_id")
    // query side: probe the nprobe nearest cells, residual PER PROBED CELL
    val qs = queries.select(col("vec_id").as("query_id"),
      KMeans.quantize(col("embedding"), scale).as("quv"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d2"), col("cell"))
    val probes = qs.crossJoin(broadcast(cents))
      .select(col("query_id"), col("quv"), col("cid").as("cell"), col("cv"),
        KMeans.dist2(col("quv"), col("cv")).as("d2"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= nprobe)
    val qsv = probes.select(col("query_id"), col("cell"),
      slices(zip_with(col("quv"), col("cv"), (x, y) => x - y), m)
        .as(Seq("sub", "qsv")))
    val table = qsv.join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("cell"), col("sub"),
        col("cid").as("code"), KMeans.dist2(col("qsv"), col("scv")).as("pd2"))
    val scored = codes.join(broadcast(table), Seq("cell", "sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("adist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adist2"), col("vec_id"))
    val out = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adist2"))
      .localCheckpoint(true) // eager before the caches drop ([[KMeans.lloyd]])
    res.unpersist(false)
    q.unpersist(false)
    out
  }

  /** Recall@k of [[ivfAdcTopK]] against the exact grid-L2 top-k — the
    * quality gate every approximate path here carries (LSH, trained IVF,
    * exhaustive PQ); this one compounds cell-pruning loss with code-
    * quantization loss, so it is the honest number for the composed path.
    */
  def ivfAdcRecall(emb: DataFrame, queries: DataFrame, k: Int,
      cells: Int, cellIters: Int, m: Int, ks: Int, pqIters: Int,
      nprobe: Int, scale: Int = 1000): DataFrame = {
    val approx = ivfAdcTopK(emb, queries, k, cells, cellIters, m, ks,
      pqIters, nprobe, scale)
    val qv = emb.select(col("vec_id"),
      KMeans.quantize(col("embedding"), scale).as("qv"))
    val qq = queries.select(col("vec_id").as("query_id"),
      KMeans.quantize(col("embedding"), scale).as("qqv"))
    val exact = gridExactTopK(qv, qq, k)
    qq.select("query_id")
      .join(approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h")),
        Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("h"), lit(0L)).as("hits"))
  }
}
