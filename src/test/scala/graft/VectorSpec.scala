package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables
import graft.vectors.{Scan, Similarity}

class VectorSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  lazy val emb = Tables(spark, TestSessions.Sf0001, "embeddings").cache()

  private def localTopK(k: Int): Map[Long, Seq[Long]] = {
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    vecs.keys.filter(_ < 10).map { q =>
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    }.toMap
  }

  test("brute-force cosine top-k matches the local oracle exactly") {
    val got = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, xs) =>
        q -> xs.sortBy(_._3).map(_._2).toSeq
      }
    assert(got == localTopK(5))
  }

  test("IVF top-k: probed-cell invariant, determinism, planted-dup recall") {
    // structural invariant: every returned neighbor lives in one of its
    // query's probed cells (the IVF contract), and results are deterministic
    val got = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
      centEvery = 7, nprobe = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    val again = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5,
      centEvery = 7, nprobe = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    assert(got.toSet == again.toSet && got.nonEmpty)
    // a near-identical planted duplicate shares its original's cell (L2
    // assignment of a 1.001-scaled copy) and must surface as top-1 —
    // nprobe>=1 always includes the query's own nearest cell
    val planted = emb.filter(col("vec_id") < 10).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val corpus2 = emb.select("vec_id", "embedding").unionByName(planted)
    val withDup = Similarity.ivfTopK(corpus2,
      emb.filter(col("vec_id") < 10), k = 1, centEvery = 7, nprobe = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    (0L until 10L).foreach { q =>
      assert(withDup(q) == q + 1000000L,
        s"query $q: planted duplicate not found (got ${withDup.get(q)})")
    }
  }

  test("LSH top-k: perfect recall on strong neighbors, partial on weak") {
    // strong-similarity regime (what LSH is for): plant a cos≈0.999
    // neighbor for each query; its top-1 must be found via the buckets
    val planted = emb.filter(col("vec_id") < 10).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionAll(planted)
    val top1 = Similarity.lshTopK(corpus, emb.filter(col("vec_id") < 10), 1)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    assert(top1.length == 10)
    top1.foreach { case (q, v, _) => assert(v == q + 1000000L) }

    // weak-similarity regime (cos ~0.4 natural neighbors): recall is
    // necessarily partial — assert it is at least non-trivial
    val want = localTopK(5)
    val got = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val recall = want.toSeq.map { case (q, ids) =>
      ids.count(got.getOrElse(q, Set.empty)).toDouble / ids.size
    }.sum / want.size
    assert(recall >= 0.15, f"weak-neighbor recall@5 = $recall%.2f")
  }

  test("LSH near-dup pairs find every planted duplicate (same direction)") {
    // plant: scaled copies (identical direction → identical SRP bucket)
    val planted = emb.limit(50).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionAll(planted)
    val pairs = Similarity.nearDupPairs(corpus, threshold = 0.999, bits = 12)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val expected = emb.limit(50).select("vec_id").as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    assert(expected.subsetOf(pairs), s"missed ${expected -- pairs}")
  }

  // ---- broadcast-scan kernel vs its Column forms on NaN/Inf input ---------

  /** Deterministic sample of (vec_id, embedding) tables, ids from 1: 4-dim
    * rows whose components mix finite values, 0.0, NaN, +Inf and −Inf,
    * plus one all-NaN row. No row is all zeros: the crossJoin reference
    * below divides by the norm product, which ANSI mode rejects at zero.
    */
  private def nonFiniteTables(n: Int) = {
    val comp = Gen.frequency(6 -> Gen.oneOf(-2.0, -1.0, -0.5, 0.5, 1.0, 2.0),
      1 -> Gen.const(0.0), 1 -> Gen.const(Double.NaN),
      1 -> Gen.const(Double.PositiveInfinity),
      1 -> Gen.const(Double.NegativeInfinity))
    val row = Gen.listOfN(4, comp).suchThat(_.exists(_ != 0.0))
    (0 until n).flatMap(i => Gen.listOfN(24, row)
        .apply(Gen.Parameters.default, Seed(7L + i)))
      .map(rows => (rows :+ List.fill(4)(Double.NaN)).zipWithIndex
        .map { case (v, i) => (i + 1L, v) }.toDF("vec_id", "embedding"))
  }

  /** SRP-LSH bucket id per vector: bit i = [dot(v, plane_i) > 0]. The
    * Column form of [[Scan.srpSignature]], kept as its reference.
    */
  private def srpBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(Similarity.dot(vec, typedLit(p.toSeq)) > 0, lit(1L << i))
        .otherwise(0L)
    }.reduce(_ + _)

  test("property: srpSignature equals the srpBucket Column form on NaN/Inf") {
    val planes = Similarity.hyperplanes(8, 4, "nan")
    for (t <- nonFiniteTables(3)) {
      val want = t.select(col("vec_id"),
        srpBucket(col("embedding"), planes)).as[(Long, Long)]
      val got = Similarity.srpBucketsScan(t, "vec_id", "embedding",
        Seq(planes)).select("vec_id", "b").as[(Long, Long)]
      assert(got.collect().toMap == want.collect().toMap)
    }
  }

  test("property: nearest cells equal crossJoin + min_by on NaN/Inf") {
    for (t <- nonFiniteTables(3)) {
      val c = t.select(col("vec_id"), col("embedding").as("cv"))
      val cells = t.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id").as("cent_id"), col("embedding").as("w"))
      val d2 = aggregate(col("w"), lit(0.0), (acc, x) => acc + x * x) -
        lit(2.0) * Similarity.dot(col("cv"), col("w"))
      val want = c.crossJoin(cells).withColumn("d2", d2).groupBy("vec_id")
        .agg(min_by(col("cent_id"), struct(col("d2"), col("cent_id"))))
        .as[(Long, Long)].collect().toMap
      val got = Similarity.ivfCells(c, cells).as[(Long, Long)].collect().toMap
      assert(got == want)
    }
  }

  test("property: brute-force top-k equals crossJoin + window on NaN/Inf") {
    for (t <- nonFiniteTables(3)) {
      val q = t.filter(col("vec_id") % 4 === 0)
      val cos = Similarity.dot(col("cv"), col("qv")) /
        (Similarity.l2norm(col("cv")) * Similarity.l2norm(col("qv")))
      val want = t.select(col("vec_id"), col("embedding").as("cv"))
        .crossJoin(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv")))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cos)
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(desc("cos"), asc("vec_id"))))
      val got = Similarity.bruteForceTopK(t, q, 3)
      assert(got.select("query_id", "vec_id", "rank").as[(Long, Long, Int)]
        .collect().toSet == want.filter(col("rank") <= 3)
        .select("query_id", "vec_id", "rank").as[(Long, Long, Int)]
        .collect().toSet)
    }
  }

  test("zero-norm rows: cosine 0.0 on all four ANN paths") {
    val t = Seq((1L, Seq(0f, 0f, 0f, 0f)), (2L, Seq(1f, 2f, -1f, 0.5f)),
      (3L, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    def ranked(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cos_q6", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
    // every pair holds a zero row: all ties, broken by vec_id
    val brute = ranked(Similarity.bruteForceTopK(t, t, 2))
    assert(brute == Set((1L, 2L, 0L, 1), (1L, 3L, 0L, 2), (2L, 1L, 0L, 1),
      (2L, 3L, 0L, 2), (3L, 1L, 0L, 1), (3L, 2L, 0L, 2)))
    // every vector is a cell and every cell is probed: exhaustive
    assert(ranked(Similarity.ivfTopK(t, t, 2, centEvery = 1, nprobe = 3))
      == brute)
    // the two zero rows share SRP bucket 0 in every table
    val lsh = ranked(Similarity.lshTopK(t, t, 2, dim = 4))
    assert(Set((1L, 3L), (3L, 1L)).subsetOf(lsh.map(r => (r._1, r._2))))
    assert(lsh.forall(_._3 == 0L))
    val nd = Similarity.nearDupPairs(t, threshold = 0.0, dim = 4)
      .as[(Long, Long, Long)].collect()
    assert(nd.contains((1L, 3L, 0L)) && nd.forall(_._3 == 0L))
  }

  test("a small side over MaxBroadcastRows rows is refused") {
    val queries = spark.range(Scan.MaxBroadcastRows + 1L)
      .select(col("id").as("vec_id"), array(lit(1.0f)).as("embedding"))
    val e = intercept[IllegalArgumentException](
      Similarity.bruteForceTopK(emb, queries, 5))
    assert(e.getMessage.contains("MaxBroadcastRows"))
  }

  // ---- integer-grid Lloyd k-means + SemDeDup ------------------------------

  /** Plain-Scala replica of the grid-Lloyd recurrence (the oracle shape):
    * used to assert the distributed plan computes the identical fixpoint.
    */
  private def localLloyd(vecs: Map[Long, Array[Long]], k: Int,
      iters: Int): Map[Long, (Int, Long)] = {
    val seedIds = vecs.keys.toSeq.sorted.take(k)
    var cents: Map[Int, Array[Long]] =
      seedIds.zipWithIndex.map { case (id, i) => i -> vecs(id) }.toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    def assign(): Map[Long, (Int, Long)] = vecs.map { case (id, v) =>
      id -> cents.toSeq.map { case (c, cv) => (d2(v, cv), c) }.min.swap
    }
    for (_ <- 1 to iters) {
      val a = assign()
      cents = a.groupBy(_._2._1).map { case (c, m) =>
        val vs = m.keys.map(vecs).toSeq
        c -> Array.tabulate(vs.head.length)(i =>
          Math.floorDiv(vs.map(_(i)).sum, vs.size.toLong))
      }
    }
    assign()
  }

  private def quantLocal(v: Seq[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray

  test("grid Lloyd equals the plain-Scala recurrence on real embeddings") {
    val got = graft.vectors.KMeans.lloyd(emb, k = 5, iters = 3)
      .select("vec_id", "cluster", "dist2").as[(Long, Int, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => id -> quantLocal(v) }.toMap
    assert(got == localLloyd(vecs, k = 5, iters = 3))
  }

  test("Lloyd recovers well-separated planted clusters") {
    // 3 tight groups on orthogonal axes; ids interleave groups so the
    // k lowest-id seeds land one per group
    val pts = for (g <- 0 until 3; i <- 0 until 8) yield {
      val base = Array.fill(4)(0f); base(g) = 10f
      base(3) = 0.1f * ((g * 8 + i) % 5) // deterministic jitter
      ((g + 3L * i), base.toSeq)
    }
    val df = pts.toDF("vec_id", "embedding")
    val got = graft.vectors.KMeans.lloyd(df, k = 3, iters = 3)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    for (g <- 0 until 3) {
      val members = pts.collect { case (id, v) if v(g) == 10f => id }
      assert(members.map(got).toSet.size == 1,
        s"group $g split: ${members.map(got)}")
    }
    assert(got.values.toSet.size == 3)
  }

  test("Lloyd tie-breaks toward the smaller cid and drops empty clusters") {
    // identical duplicate seeds: every point ties → cluster 0; cluster 1
    // loses all members after one update and drops out
    val df = Seq((0L, Seq(1f, 1f)), (1L, Seq(1f, 1f)), (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val zeroIter = graft.vectors.KMeans.lloyd(df, k = 2, iters = 0)
      .select("cluster").as[Int].collect().toSet
    assert(zeroIter == Set(0))
    val oneIter = graft.vectors.KMeans.lloyd(df, k = 2, iters = 1)
      .select("cluster").as[Int].collect().toSet
    assert(oneIter == Set(0))
  }

  test("trained-cell IVF: deterministic, planted duplicate is top-1") {
    val qset = emb.filter(col("vec_id") < 10)
    val got = graft.vectors.KMeans.ivfSearch(emb, qset, k = 5,
      cells = 8, iters = 2, nprobe = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    val again = graft.vectors.KMeans.ivfSearch(emb, qset, k = 5,
      cells = 8, iters = 2, nprobe = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    assert(got.toSet == again.toSet && got.nonEmpty)
    // a 1.001-scaled copy shares its original's trained cell (identical
    // direction, near-identical L2) and must surface as top-1
    val planted = qset.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val corpus2 = emb.select("vec_id", "embedding").unionByName(planted)
    val withDup = graft.vectors.KMeans.ivfSearch(corpus2, qset, k = 1,
      cells = 8, iters = 2, nprobe = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    (0L until 10L).foreach { q =>
      assert(withDup(q) == q + 1000000L, s"query $q top-1 = ${withDup(q)}")
    }
  }

  test("trained-cell IVF with nprobe == cells is exhaustive (== brute force)") {
    // probing every cell must recover exact search over the quantized grid:
    // the candidate set is the whole corpus, so ranking == local brute force
    val qset = emb.filter(col("vec_id") < 5)
    val got = graft.vectors.KMeans.ivfSearch(emb, qset, k = 5,
      cells = 6, iters = 2, nprobe = 6)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2).toSeq }
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => id -> quantLocal(v) }.toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val want = vecs.keys.filter(_ < 5).map { q =>
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    }.toMap
    assert(got == want)
  }

  /** Plain-Scala replica of [[graft.vectors.KMeans.semDedup]]'s capped rule:
    * b is dropped iff a smaller-id member of its cluster's `cap` smallest-id
    * REFERENCE set passes the exact integer cosine test (BigInt where the
    * distributed plan uses decimal(38,0)).
    */
  private def localSemDedup(vecs: Map[Long, Array[Long]], k: Int, iters: Int,
      tauNum: Long, tauDen: Long, cap: Int): Map[Long, Boolean] = {
    val cl = localLloyd(vecs, k, iters).view.mapValues(_._1).toMap
    val byCluster = cl.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    def close(a: Long, b: Long): Boolean = {
      val va = vecs(a); val vb = vecs(b)
      val dot = BigInt(va.indices.map(i => va(i) * vb(i)).sum)
      val na2 = BigInt(va.map(x => x * x).sum)
      val nb2 = BigInt(vb.map(x => x * x).sum)
      dot > 0 && dot * dot * tauDen >= BigInt(tauNum) * na2 * nb2
    }
    cl.map { case (id, c) =>
      id -> !byCluster(c).take(cap).exists(a => a < id && close(a, id))
    }
  }

  test("semDedup skew guard: 50%-giant cluster bounded refs, exact semantics") {
    // one seed per group (ids 0..3), then a GIANT near-one-direction blob
    // holding half the corpus — the degenerate clustering VERDICT r4 #1
    // names (near-duplicate-dominated corpus collapsing into one cell) —
    // plus 3 spread groups, plus a planted same-direction pair (ids 300/301)
    // whose members are close to each other but to NO low-id reference
    val pts =
      (0 until 100).map { i =>
        val v = Array.fill(4)(0f); v(0) = 10f; v(1) = 0.05f * (i % 20)
        (if (i == 0) 0L else 3L + i, v.toSeq)
      } ++
      (0 until 100).map { i =>
        val g = i % 3
        val v = Array.fill(4)(0f); v(g + 1) = 10f
        v((g + 1) % 3 + 1) = 4f * (i % 5)
        (if (i < 3) (g + 1).toLong else 102L + i, v.toSeq)
      } ++ Seq(
        (300L, Seq(10f, 3f, 0f, 0f)),        // giant-cluster direction, but
        (301L, Seq(10.002f, 3.0006f, 0f, 0f))) // >0.99-far from every ref
    val df = pts.toDF("vec_id", "embedding")
    val vecs = pts.map { case (id, v) => id -> quantLocal(v) }.toMap
    // the clustering really is skewed: one cluster holds ~half the corpus
    val asg = localLloyd(vecs, k = 4, iters = 2)
    val sizes = asg.values.groupBy(_._1).view.mapValues(_.size).toMap
    assert(sizes.values.max >= 90, s"giant cluster missing: $sizes")
    // capped run completes with candidates bounded by refs ≤ k·cap
    val capped = graft.vectors.KMeans.semDedup(df, k = 4, iters = 2,
      tauNum = 9801, tauDen = 10000, maxRefsPerCluster = 8)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(capped == localSemDedup(vecs, 4, 2, 9801, 10000, cap = 8))
    val assignedDf = graft.vectors.KMeans.lloyd(df, k = 4, iters = 2)
    val refsDf = graft.vectors.KMeans.clusterRefs(assignedDf, cap = 8)
    val refs = refsDf.as[(Int, Long)].collect()
    assert(refs.length <= 4 * 8, s"refs not bounded: ${refs.length}")
    // two-phase bounded top-k == exact per-cluster smallest-cap ids
    val refWant = asg.toSeq.map { case (id, (c, _)) => (c, id) }
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.take(8).toSet).toMap
    assert(refs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      == refWant)
    // default cap ≥ every cluster here ⇒ exactly the uncapped paper rule
    val full = graft.vectors.KMeans.semDedup(df, k = 4, iters = 2,
      tauNum = 9801, tauDen = 10000)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(full == localSemDedup(vecs, 4, 2, 9801, 10000, cap = 512))
    // and the cap genuinely bites: 301's only close mate (300) is outside
    // the reference set, so the capped run keeps it, the uncapped drops it
    assert(capped(301L) && !full(301L))
  }

  test("semDedup drops exactly the planted duplicate, keeps the original") {
    // loose clusters (mate cosine << tau), one exact-direction duplicate
    val pts = (for (g <- 0 until 2; i <- 0 until 3) yield {
      val base = Array.fill(4)(0f); base(g) = 10f
      base(2 + g % 2) = 4f * i // spread: mate cosines top out ~0.96 < tau
      ((g + 2L * i), base.toSeq)
    }) :+ ((100L, Seq(10.002f, 0f, 0f, 0f))) // dup of vec 0, exact direction
    val df = pts.toDF("vec_id", "embedding")
    // tau^2 = 9801/10000 (cos >= 0.99): only the exact-direction pair hits
    val out = graft.vectors.KMeans.semDedup(df, k = 2, iters = 2,
      tauNum = 9801, tauDen = 10000)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    val dupPartner = pts.collect {
      case (id, v) if id != 100L && v == Seq(10f, 0f, 0f, 0f) => id
    }
    assert(dupPartner.nonEmpty)
    assert(out(100L) == false, "planted duplicate survived")
    assert(dupPartner.forall(out), "original was dropped")
    assert(out.count(!_._2) == 1, s"unexpected drops: ${out.filter(!_._2)}")
  }

  test("cluster-balanced sample: quotas, ranking, block invariance") {
    import graft.vectors.KMeans
    val sel = KMeans.clusterSample(emb, k = 10, iters = 3, m = 8)
      .as[(Int, Long, Long)].collect()
    val assigned = KMeans.lloyd(emb, k = 10, iters = 3)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    // quota: min(m, |cluster|) rows per cluster, ranks dense from 1
    val byC = sel.groupBy(_._1)
    val sizes = assigned.groupBy(_._2).map { case (c, m2) => c -> m2.size }
    byC.foreach { case (c, rows) =>
      assert(rows.length == math.min(8, sizes(c)))
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
      // every sampled member really belongs to the cluster
      rows.foreach { case (_, _, v) => assert(assigned(v) == c) }
    }
    // the Lehmer ranking is what orders each cluster's sample
    val P = 2147483647L
    def h(v: Long) =
      ((v % P) * 2654435761L + 7L * 40503L + 42L) % P * 48271L % P
    byC.foreach { case (_, rows) =>
      val want = rows.sortBy { case (_, _, v) => (h(v), v) }.map(_._3).toSeq
      assert(rows.sortBy(_._2).map(_._3).toSeq == want)
    }
    // block size must not change the result (two-level top-k exactness)
    val selB = KMeans.clusterSample(emb, k = 10, iters = 3, m = 8,
      blockSize = 7L).as[(Int, Long, Long)].collect()
    assert(selB.sorted.toSeq == sel.sorted.toSeq)
  }

  test("PQ ADC: exact when ks covers the corpus, recall floor, invariance") {
    import graft.vectors.{KMeans, Pq}
    // 20 distinct vectors, ks = 20: each seed cluster keeps exactly its
    // own member through Lloyd, so every codebook entry IS its vector and
    // ADC distances equal the EXACT grid distances — PQ top-k must match
    // the brute-force grid top-k row for row, adist2 included
    val small = emb.filter(col("vec_id") < 20)
    val q = small.filter(col("vec_id") < 5)
    val pq = Pq.adcTopK(small, q, scale = 1000, m = 8, ks = 20,
      iters = 1, k = 5)
      .as[(Long, Int, Long, Long)].collect().toSet
    val qv = small.select(col("vec_id"),
      KMeans.quantize(col("embedding"), 1000).as("qv"))
    val exact = qv.crossJoin(
      qv.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("qv").as("qqv")))
      .select(col("query_id"), col("vec_id"),
        KMeans.dist2(col("qv"), col("qqv")).as("d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("d2"), col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(pq == exact)
    // gate-parameter run on the full sf0.001 embeddings: rank 1 must be
    // the query itself (its quantization error is <= anyone else's ADC
    // distance only if codes separate it — assert the measured recall
    // floor instead, plus determinism under repartitioning)
    val r1 = Pq.adcRecall(emb, emb.filter(col("vec_id") < 10),
      1000, 8, 16, 2, 5).as[(Long, Long)].collect().toMap
    assert(r1.size == 10 && r1.values.forall(h => h >= 0 && h <= 5))
    val mean = r1.values.sum.toDouble / r1.size
    // uniform-random embeddings are the adversarial case for PQ exactly
    // as for LSH (ann_lsh_recall's documented floor reasoning): no
    // cluster structure for the codebooks to exploit. Measured 1.6 avg
    // hits (32%) at these parameters on the sf0.001 corpus — 32x the
    // 0.05 chance level (5 of 500); pin at 1.0 (20%), chance x20.
    assert(mean >= 1.0, s"PQ recall@5 collapsed: $mean")
    val t1 = Pq.adcTopK(emb, emb.filter(col("vec_id") < 10),
      1000, 8, 16, 2, 5).as[(Long, Int, Long, Long)].collect().toSet
    val t2 = Pq.adcTopK(emb.repartition(7, col("vec_id")),
      emb.filter(col("vec_id") < 10), 1000, 8, 16, 2, 5)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(t1 == t2)
  }

  test("IVFADC: exact under full probe + covering codes, recall, invariance") {
    import graft.vectors.{KMeans, Pq}
    val small = emb.filter(col("vec_id") < 20)
    val q = small.filter(col("vec_id") < 5)
    val exact = {
      val qv = small.select(col("vec_id"),
        KMeans.quantize(col("embedding"), 1000).as("qv"))
      qv.crossJoin(qv.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("qv").as("qqv")))
        .select(col("query_id"), col("vec_id"),
          KMeans.dist2(col("qv"), col("qqv")).as("d2"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("query_id")
            .orderBy(col("d2"), col("vec_id"))))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("vec_id"), col("d2"))
        .as[(Long, Int, Long, Long)].collect().toSet
    }
    // cells=1: every residual is the same uniform shift, which squared
    // distances are invariant under; ks covers the corpus so every
    // residual subvector is its own codeword — IVFADC must equal the
    // brute-force grid top-k row for row, adist2 = exact d2 included
    val one = Pq.ivfAdcTopK(small, q, k = 5, cells = 1, cellIters = 1,
      m = 8, ks = 20, pqIters = 1, nprobe = 1)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(one == exact)
    // multi-cell, nprobe = cells: per-cell residual shifts cancel between
    // query table and member codes (both subtract the probed cell's
    // centroid), so with covering codes the COMPOSED path is still exact —
    // this pins the per-(query, cell) residual-table bookkeeping
    val full = Pq.ivfAdcTopK(small, q, k = 5, cells = 4, cellIters = 2,
      m = 8, ks = 20, pqIters = 1, nprobe = 4)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(full == exact)
    // gate parameters on the full corpus: recall present and bounded,
    // deterministic under repartitioning
    val r = Pq.ivfAdcRecall(emb, emb.filter(col("vec_id") < 10),
      k = 5, cells = 10, cellIters = 3, m = 8, ks = 16, pqIters = 2,
      nprobe = 2).as[(Long, Long)].collect().toMap
    assert(r.size == 10 && r.values.forall(h => h >= 0 && h <= 5))
    // uniform embeddings + ~20% probed (nprobe 2 of 10 on a structureless
    // corpus) + 8-byte codes: the compounded adversarial case — yet
    // measured 1.9 avg hits (38%) here, BEATING exhaustive PQ's 1.6:
    // residuals have smaller spread than raw vectors, so the same ks=16
    // codebooks quantize them finer. Pin at 1.0 (20%, chance x20)
    val mean = r.values.sum.toDouble / r.size
    assert(mean >= 1.0, s"IVFADC recall@5 collapsed: $mean")
    val t1 = Pq.ivfAdcTopK(emb, emb.filter(col("vec_id") < 10),
      k = 5, cells = 10, cellIters = 3, m = 8, ks = 16, pqIters = 2,
      nprobe = 2).as[(Long, Int, Long, Long)].collect().toSet
    val t2 = Pq.ivfAdcTopK(emb.repartition(7, col("vec_id")),
      emb.filter(col("vec_id") < 10),
      k = 5, cells = 10, cellIters = 3, m = 8, ks = 16, pqIters = 2,
      nprobe = 2).as[(Long, Int, Long, Long)].collect().toSet
    assert(t1 == t2)
  }
}
