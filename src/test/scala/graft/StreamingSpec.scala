package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark
  import spark.implicits._

  val eventsPath = s"${TestSessions.Sf0001}/events.parquet"
  // file streams require a directory source
  lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events").toString
    spark.read.parquet(eventsPath).repartition(4)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("sessionization: gap merge and boundary semantics (hand fixture)") {
    // user 1: events at 0h, 10h, 20h (gaps < 24h → ONE session ending 44h);
    // user 2: events at 0h and exactly 24h — windows TOUCH and Spark merges
    // them: still ONE session (the boundary rule the oracle must mirror);
    // user 3: events 1 second past the gap → TWO sessions
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val rows = Seq((1L, 0L), (1L, 36000L), (1L, 72000L),
      (2L, 0L), (2L, 86400L), (3L, 0L), (3L, 86401L))
      .zipWithIndex.map { case ((u, s), i) =>
        (i.toLong, java.sql.Timestamp.from(t0.plusSeconds(s)), u, "e", 1.0)
      }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStream.sessionizeBatch(df)
      .select("user_id", "n_events").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(got == Map(1L -> Seq(3L), 2L -> Seq(2L), 3L -> Seq(1L, 1L)))
  }

  test("evolving-graph ingest recomputes per micro-batch, monotonic counts") {
    // several files → several micro-batches (a single file = one batch)
    val dir = eventsDir
    val counts = EventStream.evolvingEdgeIngest(spark, dir,
      df => df.select("user_id").distinct())
    assert(counts.size >= 4)
    assert(counts.nonEmpty)
    assert(counts == counts.sorted, "accumulating table can't shrink")
    val total = spark.read.parquet(dir)
      .select("user_id").distinct().count()
    assert(counts.last == total)
  }

  test("streaming PageRank re-ranks after each ingested batch") {
    // stream the sf0.001 link graph in 4 micro-batches
    val edges = graft.core.LinkGraph.edges(spark, TestSessions.Sf0001)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-spr").toString + "/edges"
    edges.repartition(4).write.parquet(dir)
    val perBatch = EventStream.streamingPageRank(spark, dir, k = 10,
      tol = 1e-4)
    assert(perBatch.size == 4)
    assert(perBatch.forall(_.size == 10))
    // final batch covers the whole graph: equals the batch fixpoint top-10
    val full = graft.algos.PageRank
      .run(spark, spark.read.parquet(dir), tol = 1e-4, maxIters = 100)
      .state.orderBy(org.apache.spark.sql.functions.desc("rank"),
        org.apache.spark.sql.functions.asc("id"))
      .limit(10).select("id", "rank")
      .as[(Long, Double)].collect().toSeq
    // same ids in order; ranks allclose (partitioning differs between the
    // accumulated-checkpoint table and a fresh read → 1e-14 sum-order noise)
    assert(perBatch.last.map(_._1) == full.map(_._1))
    perBatch.last.zip(full).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9)
    }
    // the ranking genuinely evolves across batches
    assert(perBatch.map(_.map(_._1)).distinct.size >= 2)
  }

  test("streaming FRAP monitor: per-arrival verdicts equal the batch radius test") {
    import graft.frap.{Frap, FrapPipeline, Kernels, ProvGen, WLRelabel}
    val edges = ProvGen.corpus(spark, nNormal = 8, nAbnormal = 1).cache()
    val learn = (0 until 6).map(i => f"normal-$i%03d")
    val monitor = Seq("normal-006", "normal-007", "bad-000")
    val counts = WLRelabel.kernelCounts(WLRelabel.run(edges, 3)).cache()
    val dict = Kernels.dictionary(
      counts.filter(col("graph_id").isInCollection(learn))).cache()
    val dsize = dict.count().toInt
    val arr = Kernels.countArrays(
      counts.filter(col("graph_id").isInCollection(learn)), dict, dsize)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1).toArray).toMap
    val profile = Frap.learnProfile(learn.map(arr(_)).toVector)
    // one whole graph per file: each arrives as its own micro-batch
    val dir = java.nio.file.Files.createTempDirectory("graft-prov-stream")
      .toString
    monitor.foreach { g =>
      edges.filter(col("graph_id") === g).coalesce(1)
        .write.mode("append").parquet(dir)
    }
    val streamed = FrapPipeline
      .monitorStream(spark, dir, profile, dict, dsize, iters = 3)
      .as[(String, Boolean, Option[Double])].collect()
    // three arrivals → three verdicts, each graph classified exactly once
    assert(streamed.length == 3)
    assert(streamed.map(_._1).toSet == monitor.toSet)
    val batch = FrapPipeline
      .monitorAtScale(spark,
        counts.filter(col("graph_id").isInCollection(monitor)),
        profile, dict, dsize)
      .as[(String, Boolean, Option[Double])].collect()
    assert(streamed.toSet == batch.toSet) // stream ≡ batch, distances included
    val verdicts = streamed.map(v => v._1 -> v._2).toMap
    assert(!verdicts("bad-000"), "planted abnormal graph must be flagged")
    edges.unpersist(false); counts.unpersist(false); dict.unpersist(false)
  }

  test("rate source smoke: continuous micro-batch trigger (non-AvailableNow)") {
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", "100").load()
      .select(col("value"), (col("value") % 10).as("bucket"))
    val q = stream.writeStream
      .outputMode("append").format("memory").queryName("rate_smoke")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("250 milliseconds"))
      .start()
    try {
      // wait until at least one non-empty micro-batch has been committed
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("rate_smoke").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(200)
      val n = spark.table("rate_smoke").count()
      assert(n > 0, "rate source produced no rows within 30s")
    } finally q.stop()
  }
}
