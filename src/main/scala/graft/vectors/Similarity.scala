package graft.vectors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a signed-random-
  * projection (SRP) LSH-bucketed variant as the scale path. Corpus-sized
  * scans run on [[Scan]]; candidate-bounded dot products are
  * `zip_with`/`aggregate` column expressions (no UDFs).
  *
  * Scale notes: brute force is a broadcast of the (small) query set against
  * the corpus — linear scan, embarrassingly parallel, the right baseline up
  * to ~10^9 vectors × few queries. The SRP variant buckets the corpus once
  * (16-bit signature → 65k buckets) and probes only matching buckets
  * (optionally Hamming-1 neighbors), turning per-query cost from O(N) into
  * O(N / 2^bits × probes) at recall governed by the bit count.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as a column expression over two array columns. Higher-order
    * array functions are CodegenFallback (interpreted, per-element boxed),
    * so this form serves only candidate-bounded sites (LSH rerank, near-dup
    * verification); the corpus-sized scans use its [[Scan.dot]] twin.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))

  /** Cosine from a dot product and two norms, 0.0 when the norm product is
    * 0 (an all-zero vector, or an underflowing product): one rule on every
    * path, where a plain division would fail the query under ANSI mode.
    * [[Scan.cosine]] is its primitive twin.
    */
  def cosine(dot: Column, na: Column, nb: Column): Column =
    when(na * nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))

  /** Deterministic ±1 hyperplanes: `bits` planes × `dim` components, keyed
    * by a namespace tag. Component sign = top bit of md5("srp:tag:b:d") —
    * uniform, decorrelated, and recomputable by the DuckDB oracle
    * (substr(md5(...),1,1) IN ('8'..'f')).
    */
  def hyperplanes(bits: Int, dim: Int, tag: String): Array[Array[Double]] = {
    Array.tabulate(bits, dim) { (b, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hx = md.digest(s"srp:$tag:$b:$d".getBytes("UTF-8"))
      if ((hx(0) & 0x80) != 0) 1.0 else -1.0
    }
  }

  /** (id, t, b) rows: the SRP bucket b of every vector in every table t. */
  private[graft] def srpBucketsScan(df: DataFrame, idCol: String,
      vecCol: String, planeSets: Seq[Array[Array[Double]]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Scan.broadcastScan(planeSets.toArray, df.select(col(idCol),
        col(vecCol).cast("array<double>")).as[(Long, Array[Double])]) {
      (ps, it) => it.flatMap { case (id, v) =>
        Iterator.tabulate(ps.length)(t => (id, t, Scan.srpSignature(v, ps(t))))
      }
    }.toDF(idCol, "t", "b")
  }

  /** Each query's k best candidates by (cos DESC, vec_id ASC), cos
    * quantized to 1e-6: (query_id, vec_id, cos_q6, rank).
    */
  private[vectors] def rankByCos(cand: DataFrame, k: Int): DataFrame =
    cand.withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"),
        floor(col("cos") * 1e6 + 0.5).cast("long").as("cos_q6"), col("rank"))

  /** Exact cosine top-k of each query vector against the corpus.
    * (query_id, vec_id, cos_q6, rank) — ties broken by vec_id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def vecs(df: DataFrame) = df.select(col("vec_id"),
      col("embedding").cast("array<double>")).as[(Long, Array[Double])]
    val qs = Scan.collect(vecs(queries))
      .map { case (id, v) => (id, v, Scan.l2norm(v)) }
    rankByCos(Scan.broadcastScan(qs, vecs(corpus)) { (qs, it) =>
      Scan.topK(it, qs.length, k) { case ((id, v), tops) =>
        val cn = Scan.l2norm(v)
        var q = 0
        while (q < qs.length) {
          if (qs(q)._1 != id) tops(q).offer(~Scan.orderKey(
            Scan.cosine(Scan.dot(v, qs(q)._2), cn, qs(q)._3)), id)
          q += 1
        }
      }.map { case (q, key, id) => (qs(q)._1, id, Scan.fromOrderKey(~key)) }
    }.toDF("query_id", "vec_id", "cos"), k)
  }

  /** Multi-table SRP-LSH approximate top-k: `tables` independent hash
    * tables of `bits` hyperplanes each; candidates = vectors sharing any
    * table bucket with the query, exact-reranked by cosine. Recall/cost is
    * tuned by (bits, tables): fewer bits or more tables → higher recall,
    * more candidates (this is the IVF-style "probe a few cells" scale path:
    * per-query cost O(tables × N / 2^bits) instead of O(N)).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 6, tables: Int = 12,
      dim: Int = 64): DataFrame = {
    val planeSets = (0 until tables)
      .map(t => hyperplanes(bits, dim, t.toString))
    def bucketed(df: DataFrame, idCol: String, vecCol: String) =
      srpBucketsScan(df, idCol, vecCol, planeSets)
    val c = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val cand = bucketed(c, "vec_id", "cv")
      .join(bucketed(q, "query_id", "qv"), Seq("t", "b"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
      .join(c, "vec_id").join(q, "query_id")
      .withColumn("cos", cosine(dot(col("cv"), col("qv")), col("cn"), col("qn")))
    rankByCos(cand, k)
  }

  /** IVF-flat approximate top-k — the inverted-file scale path: coarse
    * cells are a deterministic corpus sample (every `centEvery`-th vec_id,
    * playing the role of trained coarse centroids — k-means training would
    * not be cross-engine reproducible, and for top-k probing only cell
    * GEOMETRY matters, not centroid optimality); every vector is assigned
    * to its nearest cell by L2, a query probes the `nprobe` nearest cells
    * and exactly reranks only their members.
    *
    * Scale shape: the centroid table is a FIXED-size broadcast (cell count
    * does not grow with N in a real deployment), so assignment is one
    * broadcast scan ([[ivfCells]]) — O(N·C) work, zero N×C shuffle rows;
    * per-query probe cost is O(C + N·nprobe/C) instead of O(N).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centEvery: Int = 50, nprobe: Int = 3): DataFrame = {
    val c = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val cents = corpus.filter(col("vec_id") % centEvery === 0)
      .select(col("vec_id").as("cent_id"),
        col("embedding").cast("array<double>").as("w"))
      .withColumn("wn2",
        aggregate(col("w"), lit(0.0), (acc, v) => acc + v * v))
    // argmin_cell ||v − w||² = argmin_cell (||w||² − 2·v·w); ties (exact
    // duplicate centroids) break toward the smaller cent_id, mirroring the
    // oracle's ORDER BY (d2, cent_id)
    def d2(vec: Column): Column = col("wn2") - lit(2.0) * dot(vec, col("w"))
    val assign = ivfCells(c, cents)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val wp = Window.partitionBy("query_id").orderBy(col("d2"), col("cent_id"))
    val probes = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cent_id"), d2(col("qv")).as("d2"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))
    val cand = probes.join(assign, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val rer = cand.join(c, "vec_id").join(q, "query_id")
      .withColumn("cos", cosine(dot(col("cv"), col("qv")), col("cn"), col("qn")))
    rankByCos(rer, k)
  }

  /** Nearest cell (vec_id, cell) of every (vec_id, cv) vector among the
    * (cent_id, w) cells by the `d2` of [[ivfTopK]], ties and NaNs ordered
    * as its `ORDER BY (d2, cent_id)`.
    */
  private[graft] def ivfCells(c: DataFrame, cents: DataFrame): DataFrame = {
    val spark = c.sparkSession
    import spark.implicits._
    val cs = Scan.collect(cents.select(col("cent_id"), col("w"))
        .as[(Long, Array[Double])])
      .sortBy(_._1).map { case (id, w) => (id, w, Scan.dot(w, w)) }
    Scan.broadcastScan(cs, c.select(col("vec_id"), col("cv"))
        .as[(Long, Array[Double])]) { (cs, it) =>
      val d = new Array[Long](cs.length)
      it.flatMap { case (id, v) =>
        val b = Scan.nearest(d)(i =>
          Scan.orderKey(cs(i)._3 - 2.0 * Scan.dot(v, cs(i)._2)))
        Option.when(b >= 0)((id, cs(b)._1))
      }
    }.toDF("vec_id", "cell")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, found via shared
    * SRP bucket (+ Hamming-1) then exact verification. (vec_a < vec_b.)
    */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
      bits: Int = 12, dim: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = Scan.broadcastScan(hyperplanes(bits, dim, "nd"), corpus.select(
        col("vec_id"), col("embedding").cast("array<double>"))
        .as[(Long, Array[Double])]) { (ps, it) =>
      it.map { case (id, v) =>
        (id, v, Scan.l2norm(v), Scan.srpSignature(v, ps))
      }
    }.toDF("vec_id", "v", "n", "bucket0")
    // index each vector under its own bucket and all Hamming-1 buckets of
    // the *lower*-id side only (so each near pair meets at least once)
    val probed = c.select(col("vec_id"), col("v"), col("n"),
      explode(array(
        (col("bucket0") +: (0 until bits).map(i =>
          col("bucket0").bitwiseXOR(lit(1L << i)))): _*)).as("bucket"))
    val l = probed.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("n").as("na"), col("bucket"))
    val r = c.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("n").as("nb"), col("bucket0").as("bucket"))
    l.join(r, "bucket")
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosine(dot(col("va"), col("vb")), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("vec_a", "vec_b")
      .agg(floor(max(col("cos")) * 1e6 + 0.5).cast("long").as("cos_q6"))
  }
}
