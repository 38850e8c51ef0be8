package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algos.PageRank
import graft.core.LinkGraph

/** Plan-quality regression guards: the properties that make a superstep
  * cheap at 100 TB are structural (shuffle count), not timing — assert them
  * so a refactor can't silently reintroduce an exchange. (BENCH.md "Plan
  * audit"; AQE must be off in iterative loops — it discards the
  * checkpointed state's outputPartitioning and re-exchanges both sides.)
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSessions.spark

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }.size

  test("repetition filter pass = ZERO shuffles (pure corpus scan)") {
    withoutAqe {
      val docs = graft.core.Tables(spark, TestSessions.Sf0001, "documents")
      assert(shuffles(graft.text.TextStats.repetition(docs)) == 0)
    }
  }

  test("PageRank superstep from checkpointed state = exactly ONE shuffle") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = LinkGraph.edges(spark, TestSessions.Sf0001)
      val parts = LinkGraph.partitions(spark)
      val sh = LinkGraph.edgeView(PageRank.shares(edges), "src")
      sh.count()
      val state = LinkGraph.vertices(edges).repartition(parts, col("id"))
        .select(col("id"), lit(1.0).as("rank"),
          lit(Double.MaxValue).as("delta"))
        .localCheckpoint(true)
      // one superstep: scatter join -> gather agg -> apply join
      val scattered = state.select(col("id"), col("rank"))
        .join(sh, state("id") === sh("src"))
      val sums = scattered.groupBy(col("dst"))
        .agg(sum(col("rank") * col("share")).as("insum"))
      val prev = state.select(col("id"), col("rank").as("prev"))
      val next = prev.join(sums, prev("id") === sums("dst"), "left")
        .select(prev("id"),
          (lit(0.15) + lit(0.85) * coalesce(col("insum"), lit(0.0)))
            .as("rank"))
      val n = shuffles(next)
      assert(n == 1,
        s"superstep must shuffle exactly once (the gather); got $n:\n" +
          next.queryExecution.executedPlan.toString.take(4000))
      sh.unpersist(false)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("CC superstep message plan reuses state partitioning (<= 2 shuffles)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val edges = LinkGraph.edges(spark, TestSessions.Sf0001)
      val parts = LinkGraph.partitions(spark)
      val und = LinkGraph.edgeView(edges, "src", undirected = true)
      und.count()
      val state = LinkGraph.vertices(edges).repartition(parts, col("id"))
        .select(col("id"), col("id").as("label"), lit(1.0).as("delta"))
        .localCheckpoint(true)
      val frontier = state.filter(col("delta") > 0)
        .select(col("id"), col("label"))
      val msgs = frontier.join(und, frontier("id") === und("src"))
        .groupBy(col("dst")).agg(min(col("label")).as("mlabel"))
      val next = state.join(msgs, state("id") === msgs("dst"), "left")
        .select(state("id"),
          least(state("label"), coalesce(col("mlabel"), state("label")))
            .as("label"))
      val n = shuffles(next)
      assert(n <= 2, // gather shuffle + (possibly) frontier-side exchange
        s"CC superstep shuffled $n times:\n" +
          next.queryExecution.executedPlan.toString.take(4000))
      und.unpersist(false)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  private def withoutAqe[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("sessionization = exactly ONE shuffle (merge is partition-local)") {
    withoutAqe {
      val events = graft.core.Tables(spark, TestSessions.Sf0001, "events")
      assert(shuffles(
        graft.streaming.EventStream.sessionizeBatch(events)) == 1)
    }
  }

  test("k-means assignment = ZERO shuffles (broadcast fold, no N-row agg)") {
    withoutAqe {
      val emb = graft.core.Tables(spark, TestSessions.Sf0001, "embeddings")
      val q = emb.select(col("vec_id"),
        graft.vectors.KMeans.quantize(col("embedding"), 1000).as("qv"))
      val cents = q.limit(3)
        .select(monotonically_increasing_id().cast("int").as("cid"),
          col("qv").as("cv")).localCheckpoint(true)
      // a broadcast-hash join plans no ShuffleExchange; the guard fails if
      // the fold ever regresses to a shuffled join or an N-row aggregate
      assert(shuffles(graft.vectors.KMeans.assignTo(q, cents)) == 0)
    }
  }
}
