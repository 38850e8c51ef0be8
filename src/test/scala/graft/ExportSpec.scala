package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.Export

/** Deterministic export stage: shuffle-to-shards, holdout split, mixture
  * resampling — permutation/partitioning invariance and exact arithmetic.
  */
class ExportSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  private val P = 2147483647L

  private def docs(n: Int) =
    spark.range(0, n, 1, 4).select(col("id").as("doc_id"),
      concat(lit("src"), (col("id") % 5).cast("string")).as("source"))

  test("shuffleShards is a permutation: every doc once, dense positions") {
    val out = Export.shuffleShards(docs(500), "doc_id", numShards = 8)
    assert(out.count() == 500)
    assert(out.select("doc_id").distinct().count() == 500)
    // positions dense 0..count-1 within each shard
    val bad = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
      .filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1)
    assert(bad.count() == 0)
  }

  test("shuffleShards is independent of input partitioning and row order") {
    val base = Export.shuffleShards(docs(300), "doc_id", 7)
      .orderBy("doc_id").collect().toSeq
    val scrambled = docs(300)
      .orderBy(col("doc_id").desc).repartition(17)
    val again = Export.shuffleShards(scrambled, "doc_id", 7)
      .orderBy("doc_id").collect().toSeq
    assert(base == again)
  }

  test("multi-epoch shuffle: distinct permutations, identical mass, " +
      "stream isolation") {
    val perms = (0 to 2).map { e =>
      e -> Export.shuffleShards(docs(300), "doc_id", 8, epoch = e)
        .select("doc_id", "shard", "pos").as[(Long, Int, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    }.toMap
    // every epoch is a permutation of the SAME corpus: each doc exactly
    // once, dense per-shard positions, total mass preserved
    perms.foreach { case (e, m) =>
      assert(m.size == 300, s"epoch $e lost docs")
      val byShard = m.values.groupBy(_._1).view.mapValues(_.map(_._2).toSeq)
      byShard.foreach { case (sh, ps) =>
        assert(ps.sorted == (0L until ps.size.toLong),
          s"epoch $e shard $sh positions not dense")
      }
      assert(byShard.values.map(_.size).sum == 300)
    }
    // epoch 0 IS the legacy single-epoch stream
    val legacy = Export.shuffleShards(docs(300), "doc_id", 8)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(perms(0) == legacy)
    // epochs are pairwise DISTINCT permutations
    assert(perms(0) != perms(1) && perms(1) != perms(2)
      && perms(0) != perms(2))
    // epoch streams never collide with the split (salt 1) / mixture
    // (salt 2) streams: epoch e>=1 uses salt e+2
    def key(id: Long, salt: Long) =
      ((id % P) * 2654435761L + (42L % P) * 40503L + (salt % P) * 69621L) %
        P * 48271L % P
    (1 to 2).foreach { e =>
      val m = perms(e)
      docs(300).select("doc_id").as[Long].collect().foreach { id =>
        val k = key(id, e.toLong + 2L)
        assert(m(id)._1 == (k % 8).toInt,
          s"epoch $e shard of $id not from salt ${e + 2}")
      }
    }
  }

  test("shuffleShards matches the Lehmer formula by hand") {
    def key(id: Long) =
      ((id % P) * 2654435761L + (42L % P) * 40503L) % P * 48271L % P
    val got = Export.shuffleShards(docs(50), "doc_id", 4)
      .select("doc_id", "shard").as[(Long, Int)].collect().toMap
    (0L until 50L).foreach { id =>
      assert(got(id) == (key(id) % 4).toInt, s"doc $id")
    }
  }

  test("packSequences: spans tile docs exactly and fill sequences to capacity") {
    val toks = docs(400).select(col("doc_id"),
      (col("doc_id") % 37 * 7 + 3).as("n_tokens")) // varied, deterministic
    val out = Export.packSequences(toks, "doc_id", "n_tokens",
      capacity = 64, numShards = 4).cache()
    // (1) per-doc tiling: spans contiguous from 0, summing to n_tokens + 1
    val perDoc = out.groupBy("doc_id")
      .agg(sum("span_len").as("tot"), min("off_in_doc").as("lo"),
        max(col("off_in_doc") + col("span_len")).as("hi"))
      .join(toks, "doc_id")
      .filter(col("tot") =!= col("n_tokens") + 1 || col("lo") =!= 0 ||
        col("hi") =!= col("n_tokens") + 1)
    assert(perDoc.count() == 0)
    // (2) every sequence except each shard's last holds exactly `capacity`
    // tokens, with spans contiguous inside the sequence
    val lastSeq = out.groupBy("shard").agg(max("seq").as("last"))
    val badSeq = out.groupBy("shard", "seq")
      .agg(sum("span_len").as("fill"), min("off_in_seq").as("lo"),
        max(col("off_in_seq") + col("span_len")).as("hi"))
      .join(lastSeq, "shard")
      .filter(col("lo") =!= 0 || col("hi") =!= col("fill") ||
        (col("seq") =!= col("last") && col("fill") =!= 64) ||
        col("fill") > 64)
    assert(badSeq.count() == 0)
    // (3) total span mass equals the whole stream, nothing lost or doubled
    val total = out.agg(sum("span_len")).as[Long].head()
    val want = toks.agg(sum(col("n_tokens") + 1)).as[Long].head()
    assert(total == want)
    // (4) a long doc straddles a cut: some span starts mid-doc
    assert(out.filter(col("off_in_doc") > 0).count() > 0)
    out.unpersist(false)
  }

  test("holdoutSplit is document-stable under corpus growth") {
    val f = Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125)
    val small = Export.holdoutSplit(docs(100), "doc_id", f)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val large = Export.holdoutSplit(docs(1000), "doc_id", f)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    small.foreach { case (id, s) =>
      assert(large(id) == s, s"doc $id moved splits when the corpus grew")
    }
    // all three splits are populated at n=1000 and partition the corpus
    val sizes = large.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set("train", "val", "test"))
    assert(sizes.values.sum == 1000)
    assert(sizes("train") > sizes("val") && sizes("train") > sizes("test"))
  }

  test("holdoutSplit remainder mass joins the last split") {
    // fractions sum to 0.5: everything above the 0.5 cut is "rest"
    val out = Export.holdoutSplit(docs(400), "doc_id",
        Seq("head" -> 0.25, "rest" -> 0.25))
      .select("doc_id", "split").as[(Long, String)].collect()
    def frac(id: Long) =
      (((id % P) * 2654435761L + 42L * 40503L + 69621L) % P * 48271L % P)
        .toDouble / P.toDouble
    out.foreach { case (id, s) =>
      assert(s == (if (frac(id) < 0.25) "head" else "rest"), s"doc $id")
    }
  }

  test("sampleByWeights: integral weights repeat exactly, zero drops") {
    val out = Export.sampleByWeights(docs(200), "doc_id", "source",
      Map("src0" -> 2.0, "src1" -> 1.0, "src2" -> 0.0))
    val counts = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(counts == Map("src0" -> 80L, "src1" -> 40L)) // 40 docs/source
    // copies of the same doc are distinguishable
    val copies = out.filter(col("source") === "src0")
      .groupBy("doc_id").agg(sort_array(collect_list("copy")).as("c"))
      .select("c").as[Seq[Int]].collect()
    copies.foreach(c => assert(c == Seq(0, 1)))
  }

  test("sampleByWeights: fractional weights follow the salted key stream") {
    val out = Export.sampleByWeights(docs(200), "doc_id", "source",
        Map("src3" -> 2.5))
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    def frac(id: Long) =
      (((id % P) * 2654435761L + 42L * 40503L + 2L * 69621L) % P
        * 48271L % P).toDouble / P.toDouble
    val expectedDocs = (0L until 200L).filter(_ % 5 == 3)
    assert(out.keySet == expectedDocs.toSet)
    expectedDocs.foreach { id =>
      assert(out(id) == (if (frac(id) < 0.5) 3L else 2L), s"doc $id")
    }
    // both branches of the fractional decision are exercised
    assert(out.values.toSet == Set(2L, 3L))
  }
}
