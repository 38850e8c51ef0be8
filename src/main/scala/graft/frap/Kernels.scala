package graft.frap

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.vectors.Scan

/** Graph-kernel machinery: label dictionary, dense count arrays, and the
  * three distances of the reference (myapps/helper.cpp:16-108,
  * profile.cpp:38-79) — symmetric KL divergence with back-off smoothing,
  * Hellinger, Euclidean — plus distributed pairwise distance matrices. Those
  * run on one sparse row per graph ([[GraphRow]]): the small side's rows
  * are collected and broadcast, and one [[Scan.broadcastScan]] merges each
  * pair's sorted labels — no join, and no dictionary-wide arrays.
  */
object Kernels {

  /** Spark's string order (UTF-8 bytes), the order of `orderBy` and
    * `sort_array`: dictionary indices and every row's labels follow it, so
    * a row's labels are in dictionary order. [[WLRelabel]] sorts neighbor
    * signatures in it.
    */
  private[frap] val LabelOrder: Ordering[String] =
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Frozen label dictionary from the learning graphs: (label, label_idx)
    * with dense 0..D-1 indices (insert-order in the reference's singleton
    * map, kernelmaps.cpp:39-49; sorted order here — any fixed bijection
    * leaves all distances unchanged). D is driver-bounded: profile
    * centroids are D-wide driver arrays.
    */
  def dictionary(kernelCounts: DataFrame): DataFrame = {
    import kernelCounts.sparkSession.implicits._
    collectSmall(kernelCounts.select("label").distinct().as[String])
      .sorted(LabelOrder).toSeq.zipWithIndex
      .map { case (l, i) => (l, i.toLong) }.toDF("label", "label_idx")
  }

  /** A driver-bounded aggregate on the driver: its last stage runs as one
    * task, so the guarded take is one job instead of an incremental
    * partition-by-partition take.
    */
  private[frap] def collectSmall[T](ds: Dataset[T]): Array[T] =
    Scan.collect(ds.coalesce(1))

  /** The dictionary's labels on the driver, indexed by label_idx. */
  def labelsOf(dict: DataFrame, dictSize: Int): Array[String] = {
    import dict.sparkSession.implicits._
    val labels = new Array[String](dictSize)
    collectSmall(dict.select(col("label"), col("label_idx").cast("int"))
      .as[(String, Int)]).foreach { case (l, i) => labels(i) = l }
    labels
  }

  /** The nonzero entries of a dense dictionary-wide count array as
    * (label, cnt), in [[LabelOrder]].
    */
  def sparseCounts(counts: Array[Int], labels: Array[String])
      : Array[(String, Long)] =
    counts.indices.collect { case i if counts(i) != 0 =>
      (labels(i), counts(i).toLong)
    }.sortBy(_._1)(LabelOrder).toArray

  /** Dense count arrays keyed by graph: (graph_id, counts: Array[Int]) over
    * the dictionary (zeros for absent labels; labels outside the dictionary
    * are dropped — the frozen-map detection semantics).
    */
  def countArrays(kernelCounts: DataFrame, dict: DataFrame,
      dictSize: Int): DataFrame = {
    val joined = kernelCounts.join(dict, "label")
      .groupBy("graph_id")
      .agg(map_from_arrays(
        collect_list(col("label_idx")),
        collect_list(col("cnt"))).as("m"))
    joined.select(col("graph_id"),
      transform(sequence(lit(0), lit(dictSize - 1)),
        i => coalesce(element_at(col("m"), i.cast("long")), lit(0L))
          .cast("int")).as("counts"))
  }

  // ---- driver-side exact ports of the reference distance semantics -------

  /** helper.cpp:16-52 count_distribution: normalize to probabilities; with
    * back-off, zero entries get (min/2)/nZeros and non-zero entries give up
    * (min/2)/nNonZero.
    */
  def countDistribution(counts: Array[Int], backOff: Boolean): Array[Double] = {
    val sum = counts.filter(_ != 0).sum
    val zeroCount = counts.count(_ == 0)
    val distr = counts.map(_ / sum.toDouble)
    val minPos = distr.filter(_ > 0).min
    if (!backOff) distr
    else {
      val backOffP = (minPos / 2) / zeroCount
      val deductP = (minPos / 2) / (counts.length - zeroCount)
      distr.map(v => if (v == 0) backOffP else v - deductP)
    }
  }

  val KullbackLeibler = 0
  val Hellinger = 1
  val Euclidean = 2

  /** helper.cpp:73-108 calculate_distance2. */
  def distance(method: Int, a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length)
    method match {
      case KullbackLeibler =>
        val p = countDistribution(a, backOff = true)
        val q = countDistribution(b, backOff = true)
        p.indices.map(i => (p(i) - q(i)) * math.log(p(i) / q(i))).sum
      case Hellinger =>
        val p = countDistribution(a, backOff = false)
        val q = countDistribution(b, backOff = false)
        math.sqrt(p.indices.map { i =>
          val d = math.sqrt(p(i)) - math.sqrt(q(i)); d * d
        }.sum) / math.sqrt(2)
      case Euclidean =>
        math.sqrt(a.indices.map { i =>
          val d = (a(i) - b(i)).toDouble; d * d
        }.sum)
    }
  }

  /** k-sigma outlier trim over a value column — the reference's legacy
    * normalized-kernel filter (/root/reference/myapps/main.cpp:522-557,
    * vertexlabel_static.cpp:1251-1280): keep rows within mean ± k·stddev.
    */
  def outlierTrim(df: DataFrame, valueCol: String, k: Double = 2.0): DataFrame = {
    val row = df.agg(
      avg(col(valueCol)).as("mu"),
      stddev_pop(col(valueCol)).as("sigma")).head()
    val (mu, sigma) = (row.getDouble(0), row.getDouble(1))
    df.filter(col(valueCol).between(mu - k * sigma, mu + k * sigma))
  }

  // ---- distributed distances: one sparse row per graph, one pair scan ------

  /** One graph's sparse weights: `labels` in [[LabelOrder]], `p(i)` the
    * weight of `labels(i)` and `beta` the weight of every label it lacks.
    */
  final case class GraphRow(id: String, labels: Array[String],
      p: Array[Double], beta: Double)

  /** (graph_id, labels, counts) per graph, labels in [[LabelOrder]]. */
  private[frap] def grouped(kernelCounts: DataFrame)
      : Dataset[(String, Array[String], Array[Long])] = {
    import kernelCounts.sparkSession.implicits._
    kernelCounts.groupBy("graph_id")
      .agg(sort_array(collect_list(struct(col("label"),
        col("cnt").cast("long").as("cnt")))).as("lc"))
      .select(col("graph_id"), col("lc.label"), col("lc.cnt"))
      .as[(String, Array[String], Array[Long])]
  }

  private def rows(kernelCounts: DataFrame)(
      row: (String, Array[String], Array[Long]) => GraphRow): Dataset[GraphRow] = {
    import kernelCounts.sparkSession.implicits._
    grouped(kernelCounts).map(row.tupled)
  }

  /** The back-off values of [[countDistribution]] with the same
    * arithmetic, from a graph's nonzero counts `c` over a `dictSize`-label
    * dictionary: p = c/Σc − (m/2)/nnz, beta = (m/2)/(D − nnz), m = min(c)/Σc.
    */
  def klRow(id: String, labels: Array[String], c: Array[Long],
      dictSize: Int): GraphRow = {
    val sum = c.sum.toDouble
    val half = c.min / sum / 2
    GraphRow(id, labels, c.map(_ / sum - half / c.length),
      half / (dictSize - c.length))
  }

  /** One [[klRow]] per graph of the sparse (graph_id, label, cnt) counts. */
  def klRows(kernelCounts: DataFrame, dictSize: Int): Dataset[GraphRow] =
    rows(kernelCounts)(klRow(_, _, _, dictSize))

  /** Σ term(pa, pb) over the labels of `a` ∪ `b` in label order, a label a
    * row lacks weighing its `beta`; the `dictSize − |a ∪ b|` labels in
    * neither row add term(βa, βb) once, multiplied, when there are any.
    */
  def pairSum(a: GraphRow, b: GraphRow, dictSize: Int)(
      term: (Double, Double) => Double): Double = {
    var s = 0.0
    var i = 0
    var j = 0
    var union = 0
    while (i < a.labels.length || j < b.labels.length) {
      val c = if (j == b.labels.length) -1 else if (i == a.labels.length) 1
        else LabelOrder.compare(a.labels(i), b.labels(j))
      s += (if (c < 0) term(a.p(i), b.beta)
        else if (c > 0) term(a.beta, b.p(j)) else term(a.p(i), b.p(j)))
      if (c <= 0) i += 1
      if (c >= 0) j += 1
      union += 1
    }
    if (dictSize > union) s + (dictSize - union) * term(a.beta, b.beta) else s
  }

  /** Symmetric KL over back-off rows: the term of [[distance]]. */
  def klDistance(dictSize: Int)(a: GraphRow, b: GraphRow): Double =
    pairSum(a, b, dictSize)((p, q) => (p - q) * math.log(p / q))

  /** (ga, gb, dist) for every `big` row against every `small` row (only
    * ga < gb when `upperOnly`), in one scan with `small` broadcast.
    */
  private def scanPairs(small: Array[GraphRow], big: Dataset[GraphRow],
      upperOnly: Boolean)(dist: (GraphRow, GraphRow) => Double): DataFrame = {
    import big.sparkSession.implicits._
    Scan.broadcastScan(small, big) { (bs, it) =>
      it.flatMap(a => bs.iterator
        .filter(b => !upperOnly || LabelOrder.lt(a.id, b.id))
        .map(b => (a.id, b.id, dist(a, b))))
    }.toDF("ga", "gb", "dist")
  }

  /** (ga, gb, dist) for every pair ga < gb of the `rows` graphs: the rows
    * are collected once and scanned against their own broadcast.
    */
  private def pairMatrix(rows: Dataset[GraphRow])(
      dist: (GraphRow, GraphRow) => Double): DataFrame = {
    val all = collectSmall(rows)
    scanPairs(all, rows.sparkSession.createDataset(all.toSeq)(rows.encoder),
      upperOnly = true)(dist)
  }

  /** Pairwise Hellinger distances (ga < gb, dist) from sparse counts, over
    * raw count distributions (no back-off, helper.cpp:85-95); over
    * dictionary-ordered labels bit-identical to [[distance]].
    */
  def hellingerMatrix(kernelCounts: DataFrame): DataFrame =
    pairMatrix(rows(kernelCounts) { (id, l, c) =>
      val sum = c.sum.toDouble
      GraphRow(id, l, c.map(_ / sum), 0.0)
    }) { (a, b) =>
      math.sqrt(pairSum(a, b, 0) { (p, q) =>
        val d = math.sqrt(p) - math.sqrt(q); d * d
      }) / math.sqrt(2)
    }

  /** Pairwise symmetric-KL distances (ga < gb, dist) with the reference's
    * back-off smoothing (helper.cpp:16-52,73-84).
    *
    * @param kernelCounts (graph_id, label, cnt) already restricted to the
    *   frozen dictionary
    * @param dictSize D, the dictionary width
    */
  def klMatrix(kernelCounts: DataFrame, dictSize: Int): DataFrame =
    pairMatrix(klRows(kernelCounts, dictSize))(klDistance(dictSize))

  /** Symmetric-KL distances between every graph of `aCounts` and every
    * graph of `bCounts` (same shape and semantics as [[klMatrix]]), with
    * the `bCounts` rows broadcast. Output (ga, gb, dist), ga from `aCounts`.
    */
  def klCross(aCounts: DataFrame, bCounts: DataFrame,
      dictSize: Int): DataFrame =
    scanPairs(collectSmall(klRows(bCounts, dictSize)),
      klRows(aCounts, dictSize), upperOnly = false)(klDistance(dictSize))

  /** Pairwise Euclidean distances (ga < gb, dist) from sparse counts; over
    * dictionary-ordered labels bit-identical to [[distance]].
    */
  def euclideanMatrix(kernelCounts: DataFrame): DataFrame =
    pairMatrix(rows(kernelCounts)((id, l, c) =>
      GraphRow(id, l, c.map(_.toDouble), 0.0))) { (a, b) =>
      math.sqrt(pairSum(a, b, 0) { (x, y) => val d = x - y; d * d })
    }
}
