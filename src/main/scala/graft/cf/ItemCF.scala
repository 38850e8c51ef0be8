package graft.cf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item-based collaborative filtering over a (user, item) interaction table —
  * the flagship neighborhood method of the reference's CF toolkit
  * (/root/reference/toolkits/collaborative_filtering/itemcf.cpp:52-260),
  * re-expressed as a co-occurrence self-join instead of GraphChi's
  * pivot-window adjacency intersection. Metrics (itemcf.cpp:180-204):
  *
  *   Jaccard    = |I∩| / (|a| + |b| − |I∩|)
  *   AA         = Σ_{u ∈ I∩} 1 / log(deg(u))   (Adamic-Adar)
  *   RA         = Σ_{u ∈ I∩} 1 / deg(u)        (Resource Allocation)
  *   AsymCosine = |I∩| / (|a|^α · |b|^(1−α))
  *
  * where I∩ = users who interacted with both items, |x| = item degree,
  * deg(u) = user degree. Pairs below `minIntersection` shared users are
  * dropped (itemcf.cpp:54 `min_allowed_intersection`).
  *
  * Scale notes: candidate pairs come from a per-user equi-join (never
  * all-pairs); a hot user with degree d contributes d² co-occurrence rows,
  * so `maxUserDegree` drops power-users the way the dedup suite drops
  * boilerplate shingles (standard practice: a user who interacted with
  * everything carries no similarity signal but quadratic cost).
  */
object ItemCF {

  /** Item-pair similarities (item_a < item_b): one row per co-rated pair
    * with all four metrics. Columns: item_a, item_b, inter, size_a, size_b,
    * jaccard, aa, ra, asym_cosine.
    */
  def pairSimilarities(inter: DataFrame, minIntersection: Long = 1L,
      alpha: Double = 0.5, maxUserDegree: Long = 1000L): DataFrame = {
    val userDeg = inter.groupBy("user").agg(count(lit(1)).as("udeg"))
    val bounded = inter.join(userDeg, "user")
      .filter(col("udeg") <= maxUserDegree)
    // item degrees from the SAME bounded table the intersections count over,
    // so jaccard/asym_cosine keep their documented |I∩|/(|a|+|b|−|I∩|) form
    // when the power-user cap binds (ADVICE r2: degrees from the uncapped
    // table silently deflated both metrics for items touched by capped users)
    val itemDeg = bounded.groupBy("item").agg(count(lit(1)).as("ideg"))
    val a = bounded.select(col("user"), col("item").as("item_a"),
      col("udeg"))
    val b = bounded.select(col("user"), col("item").as("item_b"))
    val co = a.join(b, "user")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("inter"),
        sum(lit(1.0) / log(col("udeg"))).as("aa"),
        sum(lit(1.0) / col("udeg")).as("ra"))
      .filter(col("inter") >= minIntersection)
    co
      .join(itemDeg.select(col("item").as("item_a"), col("ideg").as("size_a")),
        "item_a")
      .join(itemDeg.select(col("item").as("item_b"), col("ideg").as("size_b")),
        "item_b")
      .select(col("item_a"), col("item_b"), col("inter"),
        col("size_a"), col("size_b"),
        (col("inter") / (col("size_a") + col("size_b") - col("inter")))
          .as("jaccard"),
        col("aa"), col("ra"),
        (col("inter") /
          (pow(col("size_a"), alpha) * pow(col("size_b"), 1 - alpha)))
          .as("asym_cosine"))
  }

  /** Top-k most similar items per item by a metric column (both directions
    * of each pair considered; ties broken by the other item's id).
    */
  def topKSimilar(sims: DataFrame, metric: String, k: Int): DataFrame = {
    val sym = sims.select(col("item_a").as("item"), col("item_b").as("other"),
      col(metric).as("sim"))
      .unionAll(sims.select(col("item_b"), col("item_a"), col(metric)))
    val w = Window.partitionBy("item").orderBy(desc("sim"), asc("other"))
    sym.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Item-similarity-to-rating recommendation (itemsim2rating.cpp): score
    * unseen items for each user by summing the user's items' similarities;
    * returns top-k (user, item, score, rank).
    */
  def recommend(inter: DataFrame, sims: DataFrame, metric: String,
      k: Int): DataFrame = {
    val sym = sims.select(col("item_a").as("item"), col("item_b").as("cand"),
      col(metric).as("sim"))
      .unionAll(sims.select(col("item_b"), col("item_a"), col(metric)))
    val scored = inter.join(sym, "item")
      .groupBy(col("user"), col("cand"))
      .agg(sum("sim").as("score"))
      // exclude items the user already interacted with
      .join(inter.select(col("user"), col("item").as("cand"),
        lit(1).as("seen")), Seq("user", "cand"), "left_anti")
    val w = Window.partitionBy("user").orderBy(desc("score"), asc("cand"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("user"), col("cand").as("item"), col("score"), col("rank"))
  }
}
