package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.frap._

class FrapSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  test("count_distribution back-off: sums to 1, zeros get mass") {
    val d = Kernels.countDistribution(Array(4, 0, 4, 0), backOff = true)
    assert(math.abs(d.sum - 1.0) < 1e-12)
    assert(d(1) > 0 && d(3) > 0)
    val plain = Kernels.countDistribution(Array(4, 0, 4, 0), backOff = false)
    assert(plain.toSeq == Seq(0.5, 0.0, 0.5, 0.0))
  }

  test("distances: identity, symmetry, reference formulas") {
    val a = Array(3, 1, 0, 2)
    val b = Array(1, 0, 4, 1)
    for (m <- Seq(Kernels.KullbackLeibler, Kernels.Hellinger, Kernels.Euclidean)) {
      assert(Kernels.distance(m, a, a) == 0.0)
      assert(math.abs(Kernels.distance(m, a, b) - Kernels.distance(m, b, a)) < 1e-12)
    }
    assert(Kernels.distance(Kernels.Euclidean, a, b) ==
      math.sqrt(4 + 1 + 16 + 1))
  }

  test("WL relabeling: isomorphic graphs get identical kernel histograms") {
    val g1 = ProvGen.normal("a", seed = 7)
    // isomorphic copy: shift all vertex ids, same structure
    val g2 = g1.map(e => e.copy(graph_id = "b", src = e.src + 1000,
      dst = e.dst + 1000))
    val edges = (g1 ++ g2).toDF()
    val counts = WLRelabel.kernelCounts(WLRelabel.run(edges, iters = 3))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byGraph = counts.groupBy(_._1).map { case (g, xs) =>
      g -> xs.map(x => (x._2, x._3)).toSet
    }
    assert(byGraph("a") == byGraph("b"))
  }

  test("WL relabeling distinguishes structurally different graphs") {
    val edges = (ProvGen.normal("n", 7) ++ ProvGen.abnormal("x", 7)).toDF()
    val counts = WLRelabel.kernelCounts(WLRelabel.run(edges, iters = 3))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byGraph = counts.groupBy(_._1).map { case (g, xs) =>
      g -> xs.map(x => (x._2, x._3)).toSet
    }
    assert(byGraph("n") != byGraph("x"))
  }

  test("distributed Euclidean matrix matches the driver-side formula") {
    val edges = ProvGen.corpus(spark, nNormal = 4, nAbnormal = 1)
    val wl = WLRelabel.run(edges, iters = 2)
    val counts = WLRelabel.kernelCounts(wl).cache()
    val ids = counts.select("graph_id").distinct()
      .as[String].collect().sorted.toSeq
    val dict = Kernels.dictionary(counts)
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(counts, dict, dsize).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val got = Kernels.euclideanMatrix(counts)
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for (i <- ids.indices; j <- i + 1 until ids.size) {
      val want = Kernels.distance(Kernels.Euclidean, arr(ids(i)), arr(ids(j)))
      val key = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
      assert(math.abs(got(key) - want) < 1e-9, s"pair $key")
    }
  }

  test("distributed Hellinger matrix matches the driver-side formula") {
    val edges = ProvGen.corpus(spark, nNormal = 4, nAbnormal = 1)
    val counts = WLRelabel.kernelCounts(WLRelabel.run(edges, iters = 2)).cache()
    val ids = counts.select("graph_id").distinct()
      .as[String].collect().sorted.toSeq
    val dict = Kernels.dictionary(counts)
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(counts, dict, dsize).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val got = Kernels.hellingerMatrix(counts)
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for (i <- ids.indices; j <- i + 1 until ids.size) {
      val want = Kernels.distance(Kernels.Hellinger, arr(ids(i)), arr(ids(j)))
      val key = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
      assert(math.abs(got(key) - want) < 1e-9, s"pair $key")
    }
  }

  test("distributed KL matrix matches the driver-side back-off formula") {
    val edges = ProvGen.corpus(spark, nNormal = 4, nAbnormal = 1)
    val counts = WLRelabel.kernelCounts(WLRelabel.run(edges, iters = 2)).cache()
    val ids = counts.select("graph_id").distinct()
      .as[String].collect().sorted.toSeq
    val dict = Kernels.dictionary(counts)
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(counts, dict, dsize).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val got = Kernels.klMatrix(counts, dsize)
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    for (i <- ids.indices; j <- i + 1 until ids.size) {
      val want = Kernels.distance(Kernels.KullbackLeibler,
        arr(ids(i)), arr(ids(j)))
      val key = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
      assert(math.abs(got(key) - want) < 1e-9 * math.max(1.0, math.abs(want)),
        s"pair $key: got ${got(key)}, want $want")
    }
  }

  test("distributed KL: graph covering the whole dictionary (nz=0 back-off)") {
    // dictionary = labels of graph "full" alone; "part" shares a subset.
    // full has zero absent labels -> its back-off term must be inert (the
    // driver formula's beta is inf there but multiplied by nothing).
    val counts = Seq(
      ("full", "l0", 5L), ("full", "l1", 3L), ("full", "l2", 2L),
      ("part", "l0", 4L), ("part", "l2", 6L))
      .toDF("graph_id", "label", "cnt")
    val arr = Map(
      "full" -> Array(5, 3, 2),
      "part" -> Array(4, 0, 6))
    val want = Kernels.distance(Kernels.KullbackLeibler,
      arr("full"), arr("part"))
    val got = Kernels.klMatrix(counts, 3)
      .as[(String, String, Double)].collect()
    assert(got.length == 1)
    assert(got.head._1 == "full" && got.head._2 == "part")
    assert(math.abs(got.head._3 - want) < 1e-12,
      s"got ${got.head._3}, want $want")
    assert(!got.head._3.isNaN && !got.head._3.isInfinite)
  }

  test("Hellinger and Euclidean matrices equal the driver formula exactly") {
    val counts = WLRelabel.kernelCounts(WLRelabel.run(
      ProvGen.corpus(spark, nNormal = 4, nAbnormal = 1), iters = 2)).cache()
    val dict = Kernels.dictionary(counts)
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(counts, dict, dsize).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    for ((m, got) <- Seq(
        Kernels.Hellinger -> Kernels.hellingerMatrix(counts),
        Kernels.Euclidean -> Kernels.euclideanMatrix(counts))) {
      val pairs = got.as[(String, String, Double)].collect()
      assert(pairs.length == arr.size * (arr.size - 1) / 2)
      pairs.foreach { case (a, b, d) =>
        assert(d == Kernels.distance(m, arr(a), arr(b)), s"method $m ($a, $b)")
      }
    }
    counts.unpersist(false)
  }

  test("identical counts are exactly 0.0 apart in klMatrix and monitorAtScale") {
    // identical counts under ids g1 and g2; g3 alone holds label c, so the
    // g1/g2 pair also has a label in neither graph
    val counts = Seq(
      ("g1", "a", 3L), ("g1", "b", 1L), ("g1", "d", 2L),
      ("g2", "a", 3L), ("g2", "b", 1L), ("g2", "d", 2L),
      ("g3", "a", 1L), ("g3", "c", 4L)).toDF("graph_id", "label", "cnt")
    val km = Kernels.klMatrix(counts, 4).as[(String, String, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(km(("g1", "g2")) == 0.0)
    assert(km(("g1", "g3")) > 0.0 && km(("g2", "g3")) == km(("g1", "g3")))
    val dict = Kernels.dictionary(counts)
    val arr = Kernels.countArrays(counts, dict, 4).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val profile = Frap.Profile(Vector(arr("g3"), arr("g1")),
      Vector(0.0, 0.0), Vector(arr("g3"), arr("g1")))
    val got = FrapPipeline.monitorAtScale(spark,
      counts.filter(col("graph_id") === "g2"), profile, dict, 4)
      .as[(String, Boolean, Option[Double])].collect()
    assert(got.toSeq == Seq(("g2", true, Some(0.0))))
  }

  /** The executed plan of every query `body` runs. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = ArrayBuffer.empty[String]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; ListenerDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    plans.synchronized(plans.toSeq)
  }

  test("klMatrix and monitorAtScale execute no join") {
    val counts = WLRelabel.kernelCounts(WLRelabel.run(
      ProvGen.corpus(spark, nNormal = 6, nAbnormal = 1), iters = 2))
      .localCheckpoint()
    val learn = (0 until 5).map(i => f"normal-$i%03d")
    val dict = Kernels.dictionary(
      counts.filter(col("graph_id").isInCollection(learn)))
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(counts, dict, dsize).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val profile = Frap.learnProfile(learn.map(arr(_)).toVector)
    val joins = Seq("SortMergeJoin", "BroadcastHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct", "ShuffledHashJoin")
    for ((name, run) <- Seq[(String, () => Unit)](
        "klMatrix" -> (() => Kernels.klMatrix(
          counts.filter(col("graph_id").isInCollection(learn)), dsize)
          .collect()),
        "monitorAtScale" -> (() => FrapPipeline.monitorAtScale(spark, counts,
          profile, dict, dsize).collect()))) {
      val plans = executedPlans(run())
      assert(plans.nonEmpty, name)
      plans.foreach(p => joins.foreach(j =>
        assert(!p.contains(j), s"$name runs a $j:\n$p")))
    }
  }

  test("monitorAtScale radius test matches the driver detection fast path") {
    val edges = ProvGen.corpus(spark, nNormal = 11, nAbnormal = 1)
    val learn = (0 until 10).map(i => f"normal-$i%03d")
    val monitor = Seq("normal-010", "bad-000")
    val counts = WLRelabel.kernelCounts(WLRelabel.run(edges, 3)).cache()
    val dict = Kernels.dictionary(
      counts.filter(col("graph_id").isInCollection(learn))).cache()
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(counts, dict, dsize).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val profile = Frap.learnProfile(learn.map(arr(_)).toVector)
    val got = FrapPipeline.monitorAtScale(spark,
      counts.filter(col("graph_id").isInCollection(monitor)),
      profile, dict, dsize)
      .as[(String, Boolean, Double)].collect().map(r => r._1 -> r).toMap
    monitor.foreach { g =>
      val det = Frap.detect(profile, arr(g))
      assert(got(g)._2 == det.withinRadius, s"$g within_radius mismatch")
      val want = det.distances.min
      assert(math.abs(got(g)._3 - want) < 1e-9 * math.max(1.0, math.abs(want)),
        s"$g min distance: got ${got(g)._3}, want $want")
    }
    // a graph whose labels are ALL outside the frozen dictionary must still
    // get a verdict — flagged outside every radius, not silently dropped
    val novel = Seq(("novel-000", "label-not-in-any-dictionary", 5L))
      .toDF("graph_id", "label", "cnt")
    val nv = FrapPipeline.monitorAtScale(spark,
      counts.filter(col("graph_id").isInCollection(monitor))
        .unionByName(novel), profile, dict, dsize)
      .as[(String, Boolean, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(nv.contains("novel-000"), "all-novel graph vanished from verdicts")
    assert(!nv("novel-000")._2, "all-novel graph must not be within radius")
    assert(nv("novel-000")._3.isEmpty, "all-novel graph has no distance")
  }

  test("distributed recluster matches the driver detect() verdicts") {
    val edges = ProvGen.corpus(spark, nNormal = 11, nAbnormal = 1)
    val learn = (0 until 10).map(i => f"normal-$i%03d")
    val monitor = Seq("normal-010", "bad-000")
    val counts = WLRelabel.kernelCounts(WLRelabel.run(edges, 4)).cache()
    val dict = Kernels.dictionary(
      counts.filter(col("graph_id").isInCollection(learn))).cache()
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(counts, dict, dsize).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val profile = Frap.learnProfile(learn.map(arr(_)).toVector)
    // member counts: the kept learn graphs, via Profile.memberIdx
    val memberIds = profile.memberIdx.map(learn(_))
    assert(profile.memberArrays.indices.forall(i =>
      profile.memberArrays(i).sameElements(arr(memberIds(i)))),
      "memberIdx must map memberArrays back to their learn graphs")
    val inDict = counts.join(dict.select("label"), "label")
    val got = FrapPipeline.detectAtScale(spark,
      inDict.filter(col("graph_id").isInCollection(memberIds)),
      counts.filter(col("graph_id").isInCollection(monitor)),
      profile, dict, dsize)
      .as[(String, Boolean, Boolean, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    monitor.foreach { g =>
      val det = Frap.detect(profile, arr(g))
      assert(got(g)._2 == det.withinRadius, s"$g within_radius")
      assert(got(g)._3 == det.abnormal,
        s"$g abnormal: dataflow ${got(g)._3} vs driver ${det.abnormal}")
    }
    // the planted corpus must actually exercise the recluster branch
    assert(!Frap.detect(profile, arr("bad-000")).withinRadius,
      "bad-000 should be outside every radius (recluster branch)")
    counts.unpersist(false); dict.unpersist(false)
  }

  test("LDA topics on a planted two-topic corpus are deterministic") {
    import graft.cf.Topics
    // two word families: docs 0..9 use words 0..4, docs 10..19 words 5..9
    val counts = (for {
      d <- 0 until 20; w <- 0 until 5
    } yield (d.toLong, (if (d < 10) w else w + 5), 3L + (d + w) % 4))
      .toDF("doc", "word", "cnt")
    val m = Topics.lda(spark, counts, vocabSize = 10, k = 2, iters = 15)
    assert(m.docTopics.count() == 20)
    assert(!m.logPerplexity.isNaN)
    val m2 = Topics.lda(spark, counts, vocabSize = 10, k = 2, iters = 15)
    assert(m.logPerplexity == m2.logPerplexity) // seeded determinism
    // the two planted families should mostly separate into distinct
    // dominant topics
    val dom = m.docTopics.collect().map { r =>
      val v = r.getAs[org.apache.spark.ml.linalg.Vector]("topicDistribution")
      (r.getLong(0), v.argmax)
    }.toMap
    val fam0 = (0L until 10L).map(dom)
    val fam1 = (10L until 20L).map(dom)
    assert(fam0.groupBy(identity).values.map(_.size).max >= 8)
    assert(fam1.groupBy(identity).values.map(_.size).max >= 8)
  }

  test("LDA em optimizer (Gibbs-parity path) separates the planted topics") {
    import graft.cf.Topics
    val counts = (for {
      d <- 0 until 20; w <- 0 until 5
    } yield (d.toLong, (if (d < 10) w else w + 5), 3L + (d + w) % 4))
      .toDF("doc", "word", "cnt")
    val m = Topics.lda(spark, counts, vocabSize = 10, k = 2, iters = 25,
      optimizer = "em")
    val dom = m.docTopics.collect().map { r =>
      val v = r.getAs[org.apache.spark.ml.linalg.Vector]("topicDistribution")
      (r.getLong(0), v.argmax)
    }.toMap
    val fam0 = (0L until 10L).map(dom)
    val fam1 = (10L until 20L).map(dom)
    // each planted family lands on one dominant topic, and the two families
    // land on DIFFERENT topics (em assigns hard-ish posteriors here)
    assert(fam0.groupBy(identity).values.map(_.size).max >= 8)
    assert(fam1.groupBy(identity).values.map(_.size).max >= 8)
    val top0 = fam0.groupBy(identity).maxBy(_._2.size)._1
    val top1 = fam1.groupBy(identity).maxBy(_._2.size)._1
    assert(top0 != top1, "families should separate into distinct topics")
  }

  test("kmeans prior + kmeans: single behavior family forms one big cluster") {
    val arrays = (0 until 8).map { i =>
      Array(40 + i, 20, 10 + (i % 3), 5, 1)
    }.toVector
    val profile = Frap.learnProfile(arrays)
    assert(profile.centroids.nonEmpty)
    assert(profile.memberArrays.size >= (8 * 0.2).toInt)
  }

  test("end-to-end FRAP: held-out normal passes, abnormal is flagged") {
    val edges = ProvGen.corpus(spark, nNormal = 11, nAbnormal = 1)
    val learn = (0 until 10).map(i => f"normal-$i%03d")
    val verdicts = FrapPipeline.run(edges, learn,
      Seq("normal-010", "bad-000"), iters = 4)
    val byId = verdicts.map(v => v.graphId -> v).toMap
    assert(!byId("normal-010").abnormal,
      s"held-out normal flagged: ${byId("normal-010")}")
    assert(byId("bad-000").abnormal || !byId("bad-000").withinRadius,
      s"abnormal instance not flagged: ${byId("bad-000")}")
    assert(byId("bad-000").minDistance > byId("normal-010").minDistance)
  }
}
