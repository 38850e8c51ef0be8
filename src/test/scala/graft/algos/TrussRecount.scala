package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Dataflow

/** The recount k-truss plan, the reference [[Truss.kTrussDecremental]] is
  * checked against: every peel round recounts all support with
  * [[Truss.support]] on the survivors.
  */
object TrussRecount {

  /** One peel round over canonical (u < v) edges: recount support, keep
    * edges with supp >= k−2. Returns a materialized (lineage-truncated)
    * frame; the round's persisted orientation is released before returning.
    */
  def kTrussRound(cur: DataFrame, k: Int): DataFrame = {
    val (supp, oriented) = Truss.support(cur)
    val next = Dataflow.checkpointRebased(
      cur.join(supp, Seq("u", "v"), "left")
        .filter(coalesce(col("supp"), lit(0L)) >= k - 2)
        .select("u", "v"))
    oriented.unpersist(false)
    next
  }

  /** Edges (u, v) of the k-truss of the undirected view of `edges`. */
  def kTruss(spark: SparkSession, edges: DataFrame, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    var cur = TriangleCount.canonicalEdges(edges).localCheckpoint(true)
    var n = cur.count()
    var round = 0
    var done = n == 0L
    while (!done) {
      if (round >= maxRounds) throw new IllegalStateException(
        s"k-truss did not converge in $maxRounds peel rounds")
      val next = kTrussRound(cur, k)
      val m = next.count()
      done = m == n
      cur = next
      n = m
      round += 1
    }
    cur
  }
}
