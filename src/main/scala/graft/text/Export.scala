package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data export stage — the LAST steps of a 100 TB pretraining
  * pipeline, after dedup/quality/decontamination have pruned the corpus
  * (beyond the reference's own surface, first-class for the pipeline this
  * engine targets alongside [[Dedup]] and [[Decontaminate]]):
  *
  *  - a DETERMINISTIC global shuffle into numbered shards (training wants
  *    documents decorrelated from crawl/source order, and re-runs must
  *    produce byte-identical shards for reproducibility);
  *  - a deterministic train/validation/test split;
  *  - mixture (re)sampling: per-domain up/down-weighting to hit a target
  *    data mix, with fractional repetition.
  *
  * All three derive from ONE engine-portable pseudorandom key — the same
  * Lehmer mod-P arithmetic as `GraphOps.edgeKeepFrac` (pure integer column
  * expressions, exact in any engine's 64-bit math, overflow-safe because
  * ids are reduced mod P = 2^31−1 before multiplying) — so a SQL oracle
  * replays every decision bit-for-bit, and the output is independent of
  * partitioning, parallelism, and input row order.
  *
  * Scale shape: the shuffle key is attached map-side and positions come
  * from one window per shard, never a global one. Split and mixture
  * sampling are pure row-local filters/expansions with NO shuffle at all.
  */
object Export {

  private val P = 2147483647L // 2^31 − 1 (Lehmer modulus)

  /** Uniform-in-[0,1) pseudorandom fraction of (`id`, `seed`, `salt`) —
    * the single source of randomness for shuffle order, split assignment,
    * and repetition sampling. Distinct salts give independent streams.
    */
  def keyFrac(id: Column, seed: Long, salt: Long = 0L): Column =
    keyHash(id, seed, salt).cast("double") / P.toDouble

  /** The underlying integer key in [0, P), exposed for ORDER-BY use so
    * oracle comparisons stay in exact integer space. Ids are assumed
    * non-negative (document/row ids throughout this engine), matching
    * `GraphOps.edgeKeepFrac`'s sign convention — both Spark and SQL `%`
    * are sign-preserving, so the contract is identical in the oracle.
    */
  def keyHash(id: Column, seed: Long, salt: Long = 0L): Column =
    ((id % P) * lit(2654435761L) + lit(seed % P) * 40503L +
      lit(salt % P) * 69621L) % P * 48271L % P

  /** The salt of training epoch `e`'s shuffle stream: epoch 0 is the
    * unsalted legacy stream (exports stay byte-identical to single-epoch
    * runs); epochs ≥ 1 take salts from 3 upward, SKIPPING 1 and 2 — the
    * holdout-split and mixture-sampling streams — so no epoch's shuffle
    * order ever correlates with split or keep decisions. Each epoch is a
    * distinct deterministic permutation of the identical corpus
    * (ExportSpec pins distinctness and mass preservation): multi-epoch
    * training re-decorrelates document order per pass without re-running
    * anything upstream.
    */
  private def epochSalt(epoch: Int): Long = {
    require(epoch >= 0)
    if (epoch == 0) 0L else epoch.toLong + 2L
  }

  /** Deterministic global shuffle into `numShards` shards: the input's
    * columns plus (shard, pos), with shard = key mod numShards and pos =
    * the document's 0-based rank within its shard by (key, id) — id breaks
    * the (rare) key collisions so the order is total. All input columns
    * ride along so a pipeline never needs a self-join to recover its
    * payload (a self-join would re-execute the whole upstream lineage —
    * 2× the pipeline at 100 TB).
    */
  def shuffleShards(docs: DataFrame, idCol: String, numShards: Int,
      seed: Long = 42L, epoch: Int = 0): DataFrame = {
    require(numShards >= 1)
    require(!docs.columns.contains("shard") && !docs.columns.contains("__key"),
      "input already has a 'shard'/'__key' column; rename it before sharding")
    val key = keyHash(col(idCol), seed, epochSalt(epoch))
    val w = Window.partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    docs.withColumn("shard", (key % numShards).cast("int"))
      .withColumn("__key", key)
      .withColumn("pos", row_number().over(w) - 1)
      .drop("__key")
  }

  /** Deterministic holdout split: the input's columns plus `split`, where
    * `fractions` maps split name → mass (must sum to ≤ 1; any remainder
    * joins the LAST listed split, so ("train" → 0.99, "val" → 0.01) is
    * exact). Assignment is by cumulative [0,1) interval over an
    * independent key stream — document-stable: adding or removing OTHER
    * documents never moves an id across splits (the property that keeps
    * eval sets frozen while the corpus grows). Payload columns ride along
    * (like [[shuffleShards]]) so pipelines never self-join to recover
    * them — a pure row-local projection either way.
    */
  def holdoutSplit(docs: DataFrame, idCol: String,
      fractions: Seq[(String, Double)], seed: Long = 42L): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0.0) &&
      fractions.map(_._2).sum <= 1.0 + 1e-12)
    require(!docs.columns.contains("split"),
      "input already has a 'split' column; rename it before splitting")
    val f = keyFrac(col(idCol), seed, salt = 1L)
    val cuts = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val expr = fractions.init.zip(cuts.init).reverse.foldLeft(
      lit(fractions.last._1): Column) { case (acc, ((name, _), cut)) =>
      when(f < cut, name).otherwise(acc)
    }
    docs.withColumn("split", expr)
  }

  /** Sequence packing — the final tensor-shaping step of a pretraining
    * export: documents are concatenated in deterministic shuffle order,
    * each followed by ONE separator token, and the stream is cut every
    * `capacity` tokens into training sequences; documents straddle cuts
    * (GPT-style packing — no padding, every sequence exactly full).
    *
    * Packing is PER SHARD: each shard's token stream is independent, so the
    * cumulative-offset window partitions by shard — at 100 TB numShards ≫
    * cores and shards are pipeline-sized (a few GB), so there is never a
    * global single-reducer window; the prefix sum is bounded per-task work.
    * All arithmetic is exact 64-bit integers (capacity dyadic in the gate
    * query keeps even the one float division exact), so a SQL oracle
    * replays every span bit-for-bit.
    *
    * Output: one row per (document, sequence) span —
    * (shard, seq, <idCol>, off_in_doc, off_in_seq, span_len), where `seq`
    * is the 0-based sequence number within the shard, `off_in_doc` indexes
    * into the document's tokens+separator contribution, and `off_in_seq`
    * is the span's start inside the sequence. Invariants (ExportSpec):
    * spans tile every document's contribution exactly (Σ span_len per doc
    * = tokens + 1, contiguous from 0) and fill every sequence to exactly
    * `capacity` except each shard's last.
    */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
      capacity: Int, numShards: Int, seed: Long = 42L,
      epoch: Int = 0): DataFrame = {
    require(capacity >= 1 && numShards >= 1)
    require(!docs.columns.contains("shard") && !docs.columns.contains("__key"),
      "input already has a 'shard'/'__key' column; rename it before packing")
    val key = keyHash(col(idCol), seed, epochSalt(epoch))
    val w = Window.partitionBy(col("shard")).orderBy(col("__key"), col(idCol))
    val ntok = col(tokenCol).cast("long") + 1L // + document separator
    val cap = lit(capacity.toLong)
    val seqStart = col("seq") * cap
    val spanFrom = greatest(seqStart, col("__start"))
    docs.select(col(idCol), col(tokenCol))
      .withColumn("shard", (key % numShards).cast("int"))
      .withColumn("__key", key)
      .withColumn("__end", sum(ntok).over(w))
      .withColumn("__start", col("__end") - ntok)
      .withColumn("seq", explode(sequence(
        floor(col("__start") / cap).cast("long"),
        floor((col("__end") - 1L) / cap).cast("long"))))
      .select(
        col("shard"), col("seq"), col(idCol),
        (spanFrom - col("__start")).as("off_in_doc"),
        (spanFrom - seqStart).as("off_in_seq"),
        (least((col("seq") + 1L) * cap, col("__end")) - spanFrom)
          .as("span_len"))
  }

  /** Mixture resampling to a target data mix: every document of domain d
    * appears ⌊w_d⌋ or ⌈w_d⌉ times (expected w_d — e.g. 2.5 → 2 copies
    * always, a 3rd for half the ids; 0.25 → kept once for a quarter).
    * Output (<id>, <domain>, copy) with copy 0-based — the copy index
    * keeps repeated documents distinguishable for the downstream shuffle
    * (salt the shuffle key with it and repetitions land in different
    * shards). Weights ride in as a broadcast (domain, weight) frame; the
    * expansion is `explode(sequence(...))` — row-local, shuffle-free, and
    * the fractional keep decision uses a copy-salted key stream
    * independent of shuffle/split. Unknown domains default to weight 0
    * (dropped) — a mix spec names its mixture exhaustively.
    */
  def sampleByWeights(docs: DataFrame, idCol: String, domainCol: String,
      weights: Map[String, Double], seed: Long = 42L): DataFrame = {
    require(weights.values.forall(w => w >= 0.0 && w <= 1000.0))
    import docs.sparkSession.implicits._
    // weight-0 domains must drop BEFORE the explode: sequence(0, -1) is a
    // descending Spark sequence, not empty. Internal columns carry a __
    // prefix so a corpus whose domain column is literally named "domain"
    // (or that carries a "weight" column) doesn't hit AMBIGUOUS_REFERENCE.
    val wdf = weights.toSeq.toDF("__domain", "__weight")
      .filter(col("__weight") > 0.0)
    val w = col("__weight")
    docs.select(col(idCol), col(domainCol))
      .join(broadcast(wdf), docs(domainCol) === wdf("__domain"))
      .select(col(idCol), col(domainCol),
        explode(sequence(lit(0), ceil(w).cast("int") - 1)).as("__copy"), w)
      .filter(col("__copy") < floor(w) ||
        keyFrac(col(idCol), seed, salt = 2L) < w - floor(w))
      .select(col(idCol), col(domainCol), col("__copy").cast("int").as("copy"))
  }
}
