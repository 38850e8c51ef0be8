package graft.cf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recommender evaluation apps from the reference CF toolkit that are pure
  * aggregations (no learned state):
  *
  *  - mean-baseline predictors + training RMSE —
  *    /root/reference/toolkits/collaborative_filtering/baseline.cpp:76-96
  *    (GLOBAL_MEAN / USER_MEAN / ITEM_MEAN with [minval,maxval] clamping,
  *    after_iteration's training_rmse)
  *  - average precision @ K between a predicted ranking and a held-out
  *    actual list — metric_eval.cpp:80-124 driving
  *    metrics.hpp:28-43 (Hamner AP@K)
  *
  * Both are single groupBy/window passes: at 100 TB the baseline is three
  * map-side-combinable aggregates, and AP@K is a per-user window over lists
  * already truncated to k rows — no shuffle carries more than k rows per
  * user.
  */
object Eval {

  /** Training RMSE of the three mean baselines over `ratings`
    * (user, item, rating), one output row per algorithm, mirroring
    * baseline.cpp's GLOBAL_MEAN / USER_MEAN / ITEM_MEAN enum (:40-42) and
    * its prediction clamp to [minval, maxval] (:89-91). The global mean
    * enters as a broadcast 1-row frame (same zero-driver-action shape as
    * FeatureStats.mutualInformation), per-user/per-item means as grouped
    * aggregates joined back on their key — every stage map-side combinable.
    */
  def baselineRmse(ratings: DataFrame, minval: Double, maxval: Double)
      : DataFrame = {
    val r = ratings.select(col("user"), col("item"),
      col("rating").cast("double").as("rating"))
    def clamp(p: org.apache.spark.sql.Column) =
      least(greatest(p, lit(minval)), lit(maxval))
    def rmse(withPred: DataFrame, algo: String) =
      withPred
        .select(pow(col("rating") - clamp(col("pred")), 2).as("se"))
        .agg(sqrt(avg("se")).as("rmse"))
        .select(lit(algo).as("algo"), col("rmse"))

    val global = r.crossJoin(
      broadcast(r.agg(avg("rating").as("pred"))))
    val byUser = r.join(
      r.groupBy("user").agg(avg("rating").as("pred")), "user")
    val byItem = r.join(
      r.groupBy("item").agg(avg("rating").as("pred")), "item")
    rmse(global, "global_mean")
      .unionAll(rmse(byUser, "user_mean"))
      .unionAll(rmse(byItem, "item_mean"))
  }

  /** Per-user average precision @ k of `predictions` (user, item, rank —
    * rank 1-based) against `actual` (user, item, pos — pos 1-based list
    * order), the Hamner AP@K metrics.hpp:28-43 computes per matched line:
    *
    *  - the actual list is truncated to its FIRST min(k, |actual|) items
    *    in list order before membership testing (:33-34), and the
    *    denominator is that truncated length (:41);
    *  - each of the first k predictions scores num_hits_so_far / rank when
    *    it is a member of the truncated actual set (:35-39);
    *  - only users present in BOTH inputs produce a row (metric_eval.cpp's
    *    index-merge loop skips one-sided lines, :95-102).
    *
    * Documented deviation: the reference loops over its zero-padded
    * prediction buffer (`predictions.size()`, the max_per_row=1000
    * preallocation, :35) rather than the parsed length, so a short
    * prediction line can spuriously match a literal item id 0 in the
    * actual list; this implementation bounds by the real prediction list.
    *
    * For k ≤ 30 every per-term division is replaced by the exact integer
    * scaling lcm(1..k)/rank, so a user's AP is ONE IEEE division of two
    * exactly-accumulated integers — bit-identical across engines and
    * summation orders (the same determinism contract as ItemCF's jaccard).
    * Above 30 the lcm·cum_hits product can overflow a long and the score
    * falls back to per-term double division.
    */
  def apAtK(predictions: DataFrame, actual: DataFrame, k: Int): DataFrame = {
    val actTrunc = actual.filter(col("pos") <= k)
    val asize = actTrunc.groupBy("user")
      .agg(count(lit(1)).as("asize"))
    val members = actTrunc.select("user", "item").distinct()
      .withColumn("hit", lit(1L))
    val w = Window.partitionBy("user").orderBy("rank")
    val scored = predictions.filter(col("rank") <= k)
      .join(members, Seq("user", "item"), "left")
      .select(col("user"), col("rank"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .withColumn("cum_hits", sum("hit").over(w))
    if (k <= 30) {
      val l = (1 to k).foldLeft(1L)((a, b) => a / gcd(a, b) * b)
      scored
        .groupBy("user")
        .agg(sum(col("hit") * col("cum_hits") * expr(s"$l DIV rank"))
          .as("score_num"))
        .join(asize, "user") // inner: both-sided users only, like the merge
        .select(col("user"), (col("score_num") /
          (least(col("asize"), lit(k.toLong)) * l)).as("ap"))
    } else {
      scored
        .groupBy("user")
        .agg(sum(col("hit") * col("cum_hits") / col("rank")).as("score"))
        .join(asize, "user")
        .select(col("user"),
          (col("score") / least(col("asize"), lit(k))).as("ap"))
    }
  }

  @annotation.tailrec
  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
}
