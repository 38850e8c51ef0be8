package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.frap._

class FrapSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._
  import TestSessions.withJobs

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

  test("typed WL relabeling equals the Column-form reference exactly") {
    // U+E000 sorts before U+1F600 in UTF-8 bytes (Spark's string order)
    // and after its surrogate pair in UTF-16
    val types = Gen.oneOf[String](null, "a", "b", "a#b", "\uE000",
      "\uD83D\uDE00", "x\uE001")
    val edge = for {
      g <- Gen.oneOf[String]("g0", "g1", "g2", null)
      s <- Gen.choose(0L, 5L); d <- Gen.choose(0L, 5L)
      st <- types; dt <- types; et <- types
    } yield (g, s, d, st, dt, et)
    // every seed also gets a self-loop, a parallel edge, vertex 1 in two
    // graphs, an all-null-typed edge and a null graph_id
    val fixed = Seq(("g0", 1L, 1L, "\uE000", null, "\uD83D\uDE00"),
      ("g1", 1L, 2L, "b", "a", null), ("g1", 1L, 2L, "b", "a", null),
      ("g1", 2L, 3L, null, null, null), (null, 3L, 4L, "a", "b", "a"))
    val generated = (1L to 3L).map { seed =>
      (Gen.listOfN(30, edge).apply(Gen.Parameters.default, Seed(seed)).get ++
        fixed).toDF("graph_id", "src", "dst", "src_type", "dst_type",
          "edge_type")
    }
    def rows(df: DataFrame) = df.collect().map(r => (Option(r.getString(0)),
      r.getLong(1), r.getInt(2), Option(r.getString(3)))).sorted.toSeq
    for (edges <- generated :+ ProvGen.corpus(spark, 3, 1)) {
      // the Column form's rounds do not depend on `iters`, so its
      // iters = k result is its iters = 4 result up to iteration k
      val ref = WLColumnForm.run(edges, 4)
      val want = rows(ref)
      for (k <- 0 to 4) {
        val got = WLRelabel.run(edges, k)
        assert(got.schema == ref.schema)
        assert(rows(got) == want.filter(_._3 <= k), s"iters = $k")
      }
    }
  }

  test("WL relabeling is lazy: one job, two exchanges, no join") {
    val edges = ProvGen.corpus(spark, nNormal = 3, nAbnormal = 1)
    val (wl, runJobs) = withJobs(WLRelabel.run(edges, 3))
    assert(runJobs == 0)
    val (plans, jobs) = withJobs(executedPlans(
      WLRelabel.kernelCounts(wl).collect()))
    assert(jobs == 1 && plans.size == 1, s"$jobs jobs, ${plans.size} plans")
    val plan = plans.head
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size == 2, plan)
    assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, plan)
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

  test("Euclidean matrix equals the driver formula exactly") {
    val counts = WLRelabel.kernelCounts(WLRelabel.run(
      ProvGen.corpus(spark, nNormal = 4, nAbnormal = 1), iters = 2)).cache()
    val dict = Kernels.dictionary(counts)
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(counts, dict, dsize).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val pairs = Kernels.euclideanMatrix(counts)
      .as[(String, String, Double)].collect()
    assert(pairs.length == arr.size * (arr.size - 1) / 2)
    pairs.foreach { case (a, b, d) =>
      assert(d == Kernels.distance(Kernels.Euclidean, arr(a), arr(b)),
        s"($a, $b)")
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
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
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
      val plans = executedPlans(run()).map(_.toString)
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

  test("detectAtScale matches detect() in a job count fixed by neither k-means nor flags") {
    val edges = ProvGen.corpus(spark, nNormal = 11, nAbnormal = 3)
    val learn = (0 until 10).map(i => f"normal-$i%03d")
    val counts = WLRelabel.kernelCounts(WLRelabel.run(edges, 4)).cache()
    val dict = Kernels.dictionary(
      counts.filter(col("graph_id").isInCollection(learn))).cache()
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(counts, dict, dsize).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val profile = Frap.learnProfile(learn.map(arr(_)).toVector)
    // no label in the dictionary: outside every radius, abnormal, no distance
    val novel = Seq(("novel-000", "label-not-in-any-dictionary", 5L))
      .toDF("graph_id", "label", "cnt")
    def detect(monitor: Seq[String]) = withJobs(FrapPipeline.detectAtScale(
      spark, counts.filter(col("graph_id").isInCollection(monitor))
        .unionByName(novel), profile, dict, dsize)
      .as[(String, Boolean, Boolean, Option[Double])].collect()
      .map(r => r._1 -> r).toMap)
    val few = Seq("normal-010", "bad-000")
    val all = arr.keys.toSeq.sorted
    val (got, jobs) = detect(few)
    val (gotAll, jobsAll) = detect(all)
    for ((ids, res) <- Seq(few -> got, all -> gotAll); g <- ids) {
      val det = Frap.detect(profile, arr(g))
      assert((res(g)._2, res(g)._3) == (det.withinRadius, det.abnormal), g)
    }
    assert(got("novel-000") == (("novel-000", false, true, None)))
    assert(gotAll("novel-000") == (("novel-000", false, true, None)))
    // the planted corpus exercises the recluster branch, on more flagged
    // graphs (and more k-means runs) in `all` than in `few`
    assert(Frap.detect(profile, arr("bad-000")).reclustered)
    val flagged = all.count(g => !gotAll(g)._2)
    assert(flagged >= 3, s"only $flagged of ${all.size} graphs flagged")
    assert(jobs == 6 && jobsAll == jobs, s"$jobs / $jobsAll jobs")
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
    // novel-001's vertex and edge types occur in no learn graph, so none
    // of its labels is in the dictionary
    val edges = ProvGen.corpus(spark, nNormal = 11, nAbnormal = 1)
      .unionByName(Seq(ProvGen.ProvEdge("novel-001", 1, 2, 7, 8, 9)).toDF())
    val learn = (0 until 10).map(i => f"normal-$i%03d")
    val verdicts = FrapPipeline.run(edges, learn,
      Seq("normal-010", "bad-000", "novel-001"), iters = 4)
    val byId = verdicts.map(v => v.graphId -> v).toMap
    val nv = byId("novel-001")
    assert(!nv.withinRadius && nv.abnormal && nv.minDistance.isNaN, nv)
    assert(!byId("normal-010").abnormal,
      s"held-out normal flagged: ${byId("normal-010")}")
    assert(byId("bad-000").abnormal || !byId("bad-000").withinRadius,
      s"abnormal instance not flagged: ${byId("bad-000")}")
    assert(byId("bad-000").minDistance > byId("normal-010").minDistance)
  }
}

/** The Column form of [[WLRelabel.run]]: per round, two joins and two
  * `collect_list` aggregates. The reference the typed pass must equal.
  */
object WLColumnForm {

  def initialLabels(edges: DataFrame): DataFrame =
    edges.select(col("graph_id"), col("src").as("id"),
      col("src_type").cast("string").as("label"))
      .unionAll(edges.select(col("graph_id"), col("dst").as("id"),
        col("dst_type").cast("string").as("label")))
      .groupBy("graph_id", "id")
      .agg(min("label").as("label"))

  def step(labels: DataFrame, edges: DataFrame): DataFrame = {
    val lbl = labels.select(col("graph_id"), col("id"), col("label"))
    // rename edge columns before joining: `labels` derives from `edges`, so
    // unaliased column refs would be an ambiguous self-join
    val e = edges.select(col("graph_id").as("eg"), col("src"), col("dst"),
      col("edge_type"))
    val inMsgs = lbl
      .join(e, lbl("graph_id") === col("eg") && lbl("id") === col("src"))
      .select(col("eg").as("graph_id"), col("dst").as("id"),
        concat_ws("#", col("label"), col("edge_type")).as("sig"))
      .groupBy("graph_id", "id")
      .agg(concat_ws(" ", sort_array(collect_list("sig"))).as("in_sig"))
    val outMsgs = lbl
      .join(e, lbl("graph_id") === col("eg") && lbl("id") === col("dst"))
      .select(col("eg").as("graph_id"), col("src").as("id"),
        concat_ws("#", col("label"), col("edge_type")).as("sig"))
      .groupBy("graph_id", "id")
      .agg(concat_ws(" ", sort_array(collect_list("sig"))).as("out_sig"))
    lbl
      .join(inMsgs, Seq("graph_id", "id"), "left")
      .join(outMsgs, Seq("graph_id", "id"), "left")
      .select(col("graph_id"), col("id"),
        md5(concat_ws("|",
          col("label"),
          coalesce(col("in_sig"), lit("")),
          coalesce(col("out_sig"), lit("")))).as("label"))
  }

  def run(edges: DataFrame, iters: Int): DataFrame = {
    var labels = initialLabels(edges).localCheckpoint(true)
    var acc = labels.withColumn("iter", lit(0))
    for (t <- 1 to iters) {
      labels = step(labels, edges).localCheckpoint(true)
      acc = acc.unionAll(labels.withColumn("iter", lit(t)))
    }
    acc.select("graph_id", "id", "iter", "label")
  }
}
