package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algos._
import graft.core.LinkGraph
import graft.derive.{CodeLakehouse, EdgeDerive}
import graft.engine.{DurableStore, LocalStore}

/** spark-submit job specs. Each main takes `key=value` args; on a cluster:
  *
  *   spark-submit --class graft.jobs.PageRankJob frapspark.jar \
  *     edges=s3://bucket/edges out=s3://bucket/ranks \
  *     checkpoint=s3://bucket/ckpt tol=1e-6 maxIters=100 salt=0
  *
  * In this sandbox, run locally via `dev/run.sh graft.jobs.PageRankJob ...`
  * (master defaults to local[*]; spark-submit injects master/conf on a
  * real cluster).
  */
object Jobs {
  /** @param aqe one-shot jobs benefit from AQE; iterative jobs must run with
    *   it OFF (AQE discards the checkpointed state's outputPartitioning and
    *   re-exchanges both superstep join sides — see BENCH.md plan audit /
    *   PlanSpec)
    */
  def session(appName: String, aqe: Boolean): SparkSession = {
    val b = SparkSession.builder().appName(appName)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit provides the master on a cluster; default for sandbox
    val withMaster =
      if (sys.props.contains("spark.master") ||
        sys.env.contains("SPARK_MASTER")) b
      else b.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val s = withMaster.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def parseArgs(args: Array[String]): Map[String, String] =
    args.flatMap { a =>
      a.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _           => None
      }
    }.toMap

  /** Edge input: `derive:<nFiles>` generates the synthetic lakehouse and
    * derives; `tpch:<sfDir>` derives the TPC-H link graph; any other value
    * is a parquet path of (src, dst, weight).
    */
  def loadEdges(spark: SparkSession, spec: String): DataFrame =
    if (spec.startsWith("derive:"))
      EdgeDerive.derive(CodeLakehouse.table(spark, spec.drop(7).toLong))._1
    else if (spec.startsWith("tpch:"))
      LinkGraph.edges(spark, spec.drop(5))
    else spark.read.parquet(spec)

  def store(spark: SparkSession, conf: Map[String, String]) =
    conf.get("checkpoint") match {
      case Some(dir) => new DurableStore(spark, dir)
      case None      => new LocalStore
    }
}

/** Derive the edge table + sha256 manifest from a lakehouse table. */
object DeriveJob {
  def main(args: Array[String]): Unit = {
    val conf = Jobs.parseArgs(args)
    val spark = Jobs.session("graft-derive", aqe = true)
    val files = conf.get("files") match {
      case Some(p) if p.forall(_.isDigit) => CodeLakehouse.table(spark, p.toLong)
      case Some(p)                        => spark.read.parquet(p)
      case None                           => CodeLakehouse.table(spark, 100000L)
    }
    val out = conf.getOrElse("out", "/tmp/graft-derive")
    val (edges, cat) = EdgeDerive.derive(files)
    edges.write.mode("overwrite").parquet(s"$out/edges")
    cat.write.mode("overwrite").parquet(s"$out/catalog")
    CodeLakehouse.manifest(files).write.mode("overwrite")
      .parquet(s"$out/manifest")
    println(s"""{"job":"derive","edges":"$out/edges"}""")
    spark.stop()
  }
}

object PageRankJob {
  def main(args: Array[String]): Unit = {
    val conf = Jobs.parseArgs(args)
    val spark = Jobs.session("graft-pagerank", aqe = false)
    val edges = Jobs.loadEdges(spark, conf.getOrElse("edges", "derive:100000"))
    val res = PageRank.run(spark, edges,
      tol = conf.getOrElse("tol", "1e-6").toDouble,
      maxIters = conf.getOrElse("maxIters", "100").toInt,
      store = Jobs.store(spark, conf),
      saltBuckets = conf.getOrElse("salt", "0").toInt)
    val out = conf.getOrElse("out", "/tmp/graft-pagerank")
    res.state.select("id", "rank").write.mode("overwrite").parquet(out)
    res.state.select("id", "rank")
      .orderBy(desc("rank"), asc("id")).limit(20).show(20, false)
    println(s"""{"job":"pagerank","supersteps":${res.supersteps},""" +
      s""""converged":${res.converged},"out":"$out"}""")
    spark.stop()
  }
}

object ConnectedComponentsJob {
  def main(args: Array[String]): Unit = {
    val conf = Jobs.parseArgs(args)
    val spark = Jobs.session("graft-cc", aqe = false)
    val edges = Jobs.loadEdges(spark, conf.getOrElse("edges", "derive:100000"))
    val res = ConnectedComponents.run(spark, edges,
      maxIters = conf.getOrElse("maxIters", "50").toInt,
      store = Jobs.store(spark, conf))
    val out = conf.getOrElse("out", "/tmp/graft-cc")
    res.state.select("id", "label").write.mode("overwrite").parquet(out)
    ConnectedComponents.componentSizes(res.state.select("id", "label"))
      .limit(20).show(20, false)
    println(s"""{"job":"cc","supersteps":${res.supersteps},"out":"$out"}""")
    spark.stop()
  }
}

object TriangleCountJob {
  def main(args: Array[String]): Unit = {
    val conf = Jobs.parseArgs(args)
    val spark = Jobs.session("graft-triangles", aqe = true)
    val edges = Jobs.loadEdges(spark, conf.getOrElse("edges", "derive:100000"))
    val out = conf.getOrElse("out", "/tmp/graft-triangles")
    TriangleCount.perVertex(spark, edges).write.mode("overwrite").parquet(out)
    val total = TriangleCount.total(spark, edges).head().getLong(0)
    println(s"""{"job":"triangles","total":$total,"out":"$out"}""")
    spark.stop()
  }
}

object SccJob {
  def main(args: Array[String]): Unit = {
    val conf = Jobs.parseArgs(args)
    val spark = Jobs.session("graft-scc", aqe = false)
    val edges = Jobs.loadEdges(spark, conf.getOrElse("edges", "derive:100000"))
    val out = conf.getOrElse("out", "/tmp/graft-scc")
    val scc = SCC.run(spark, edges,
      maxRounds = conf.getOrElse("maxRounds", "50").toInt,
      driverFinishBelow =
        conf.getOrElse("driverFinishBelow", "2000000").toLong)
    scc.write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).select("scc").distinct().count()
    println(s"""{"job":"scc","n_scc":$n,"out":"$out"}""")
    spark.stop()
  }
}

object KCoresJob {
  def main(args: Array[String]): Unit = {
    val conf = Jobs.parseArgs(args)
    val spark = Jobs.session("graft-kcores", aqe = false)
    val edges = Jobs.loadEdges(spark, conf.getOrElse("edges", "derive:100000"))
    val out = conf.getOrElse("out", "/tmp/graft-kcores")
    val res = KCores.run(spark, edges,
      maxIters = conf.getOrElse("maxIters", "200").toInt)
    res.state.select(col("id"), col("core").as("coreness"))
      .write.mode("overwrite").parquet(out)
    // per-round changed-vertex counts: the recompute frontier's collapse
    val active = res.metrics.map(_.active).mkString("[", ",", "]")
    println(s"""{"job":"kcores","rounds":${res.supersteps},""" +
      s""""converged":${res.converged},"active":$active,"out":"$out"}""")
    spark.stop()
  }
}

object MsfJob {
  def main(args: Array[String]): Unit = {
    val conf = Jobs.parseArgs(args)
    val spark = Jobs.session("graft-msf", aqe = false)
    val edges = Jobs.loadEdges(spark, conf.getOrElse("edges", "derive:100000"))
    val out = conf.getOrElse("out", "/tmp/graft-msf")
    MinimumSpanningForest.run(spark, edges,
      maxRounds = conf.getOrElse("maxRounds", "50").toInt)
      .write.mode("overwrite").parquet(out)
    println(s"""{"job":"msf","out":"$out"}""")
    spark.stop()
  }
}

object LabelPropagationJob {
  def main(args: Array[String]): Unit = {
    val conf = Jobs.parseArgs(args)
    val spark = Jobs.session("graft-lpa", aqe = false)
    val edges = Jobs.loadEdges(spark, conf.getOrElse("edges", "derive:100000"))
    val res = LabelPropagation.run(spark, edges,
      iters = conf.getOrElse("iters", "10").toInt,
      store = Jobs.store(spark, conf))
    val out = conf.getOrElse("out", "/tmp/graft-lpa")
    res.state.select("id", "label").write.mode("overwrite").parquet(out)
    println(s"""{"job":"lpa","supersteps":${res.supersteps},"out":"$out"}""")
    spark.stop()
  }
}
