package graft.frap

/** FRAP's clustering + anomaly-detection stage — a faithful Scala port of the
  * *semantics* of /root/reference/myapps/helper.cpp:111-413 and
  * main.cpp:104-387 (kmeans_prior → kmeans → profile → monitor). These run
  * driver-side on collected count arrays: with G graphs and dictionary size
  * D the data is G×D ints — tiny next to the distributed WL stage that
  * produced it (same shape as the reference, where this is single-process
  * code over per-graph vectors).
  *
  * Determinism deviation (documented): kmeans_prior seeds centroids with
  * rand()%size (helper.cpp:127); here seeds are evenly spaced through the
  * distance vector so runs are reproducible.
  */
object Frap {

  final case class Clustering(
      clusters: Vector[Vector[Int]],      // member indices per cluster
      distances: Vector[Vector[Double]],  // member distance to own centroid
      centroids: Vector[Array[Int]])

  final case class Profile(
      centroids: Vector[Array[Int]],
      radii: Vector[Double],              // max distance from centroid
      memberArrays: Vector[Array[Int]])

  final case class Detection(
      distances: Vector[Double],
      withinRadius: Boolean,
      reclustered: Boolean,
      abnormal: Boolean)

  /** 1-D k-means over the flattened pairwise distance vector
    * (helper.cpp:111-191): estimates how many behavior clusters exist.
    */
  def kmeansPrior(k: Int, distMatrix: Vector[Double])
      : (Vector[Vector[Int]], Vector[Vector[Double]]) = {
    val n = distMatrix.size
    require(n > 0 && k > 0)
    var centroids = Array.tabulate(math.min(k, n))(i =>
      distMatrix((i.toLong * n / math.min(k, n)).toInt))
    val kk = centroids.length
    var clusters = Vector.empty[Vector[Int]]
    var dists = Vector.empty[Vector[Double]]
    var converged = false
    while (!converged) {
      val members = Array.fill(kk)(Vector.newBuilder[Int])
      val mdists = Array.fill(kk)(Vector.newBuilder[Double])
      val sums = Array.fill(kk)(0.0)
      val cnts = Array.fill(kk)(0)
      for (i <- 0 until n) {
        var best = 0
        var bestD = math.abs(distMatrix(i) - centroids(0))
        for (p <- 1 until kk) {
          val d = math.abs(distMatrix(i) - centroids(p))
          if (d < bestD) { bestD = d; best = p }
        }
        members(best) += i
        mdists(best) += bestD
        sums(best) += distMatrix(i)
        cnts(best) += 1
      }
      val next = Array.tabulate(kk)(q =>
        if (cnts(q) == 0) 0.0 else sums(q) / cnts(q)) // mean([]) = 0 (helper.cpp:58-63)
      converged = next.sameElements(centroids)
      centroids = next
      if (converged) {
        clusters = members.map(_.result()).toVector
        dists = mdists.map(_.result()).toVector
      }
    }
    (clusters, dists)
  }

  /** Flattened pair index of (x, x+1+y) among n instances — the decode loop
    * of main.cpp:195-210.
    */
  def pairIndex(n: Int, x: Int, y: Int): Int =
    (((n - 1) + (n - x)) * x) / 2 + y

  /** Seed selection from prior clusters: per cluster, the instance that
    * participates in the most member pairs (ties → smallest id, matching
    * std::map ascending iteration with strict `>`), main.cpp:222-237.
    */
  def seedsFromPrior(n: Int, priorClusters: Vector[Vector[Int]]): Vector[Int] =
    priorClusters.flatMap { cluster =>
      if (cluster.isEmpty) None
      else {
        val occur = scala.collection.mutable.Map.empty[Int, Int]
        for (idx <- cluster; x <- 0 until n - 1; y <- 0 until n - 1 - x
             if pairIndex(n, x, y) == idx) {
          occur(x) = occur.getOrElse(x, 0) + 1
          occur(x + 1 + y) = occur.getOrElse(x + 1 + y, 0) + 1
        }
        Some(occur.toSeq.sortBy(_._1).maxBy(_._2)._1)
      }
    }

  /** k-means over count arrays with given seed rows, KL distance, integer
    * centroid means (helper.cpp:193-305 — including the int division).
    */
  def kmeans(seeds: Vector[Int], arrays: Vector[Array[Int]]): Clustering =
    kmeansFrom(seeds.map(arrays(_)).toVector, arrays)

  /** Iterations after which [[kmeansFrom]] throws: KL assignment with
    * integer means need not reach a fixpoint, and the reference's loop has
    * no bound.
    */
  private val MaxKmeansIters = 50

  /** kmeans_monitor: same loop but initialized from explicit centroids
    * (helper.cpp:307-413).
    */
  def kmeansFrom(init: Vector[Array[Int]], arrays: Vector[Array[Int]])
      : Clustering = {
    val k = init.size
    val n = arrays.size
    var centroids = init.map(_.clone())
    var result: Clustering = null
    var converged = false
    var it = 0
    while (!converged) {
      if (it == MaxKmeansIters) throw new IllegalStateException(
        s"k-means did not converge in $MaxKmeansIters iterations")
      it += 1
      val members = Array.fill(k)(Vector.newBuilder[Int])
      val mdists = Array.fill(k)(Vector.newBuilder[Double])
      val groups = Array.fill(k)(Vector.newBuilder[Array[Int]])
      for (i <- 0 until n) {
        var best = 0
        var bestD = Kernels.distance(Kernels.KullbackLeibler, arrays(i), centroids(0))
        for (p <- 1 until k) {
          val d = Kernels.distance(Kernels.KullbackLeibler, arrays(i), centroids(p))
          if (d < bestD) { bestD = d; best = p }
        }
        members(best) += i
        mdists(best) += bestD
        groups(best) += arrays(i)
      }
      val next = centroids.zipWithIndex.map { case (old, q) =>
        val g = groups(q).result()
        if (g.isEmpty) old // empty cluster keeps its centroid (helper.cpp:249)
        else {
          val len = old.length
          val sum = Array.fill(len)(0)
          g.foreach(a => (0 until len).foreach(f => sum(f) += a(f)))
          (0 until len).foreach(f => sum(f) /= g.size) // int mean, as reference
          sum
        }
      }
      converged = next.zip(centroids).forall { case (a, b) => a.sameElements(b) }
      centroids = next
      if (converged)
        result = Clustering(members.map(_.result()).toVector,
          mdists.map(_.result()).toVector, centroids)
    }
    result
  }

  /** Learning: distances → kmeans_prior (k estimate + seeds) → kmeans →
    * profile keeps clusters with > minFrac membership (main.cpp:279-295,
    * minFrac = 0.2).
    */
  def learnProfile(arrays: Vector[Array[Int]], minFrac: Double = 0.2): Profile = {
    val n = arrays.size
    val distMatrix = (for {
      i <- 0 until n
      j <- 1 until n - i
    } yield Kernels.distance(Kernels.KullbackLeibler, arrays(i), arrays(i + j)))
      .toVector
    learnProfileFromDistances(arrays, distMatrix, minFrac)
  }

  /** Learning with a PRE-COMPUTED flattened pairwise distance vector (same
    * (i, i+j) order as above) — lets the caller produce the distances
    * distributedly ([[Kernels.klMatrix]]) instead of on collected arrays.
    */
  def learnProfileFromDistances(arrays: Vector[Array[Int]],
      distMatrix: Vector[Double], minFrac: Double = 0.2): Profile = {
    val n = arrays.size
    require(distMatrix.size == n * (n - 1) / 2,
      s"expected ${n * (n - 1) / 2} pairwise distances, got ${distMatrix.size}")
    val (priorClusters, _) = kmeansPrior(n, distMatrix)
    val seeds = seedsFromPrior(n, priorClusters)
    val clustering = kmeans(seeds, arrays)
    val keep = clustering.clusters.indices
      .filter(i => clustering.clusters(i).size > n * minFrac)
    require(keep.nonEmpty, "no cluster exceeds the membership threshold")
    Profile(
      centroids = keep.map(clustering.centroids(_)).toVector,
      radii = keep.map(i => clustering.distances(i).max).toVector,
      memberArrays = keep.flatMap(i =>
        clustering.clusters(i).map(arrays(_))).toVector)
  }

  /** Detection (main.cpp:322-387): inside any cluster radius → normal; else
    * [[recluster]] decides.
    */
  def detect(profile: Profile, monitored: Array[Int]): Detection = {
    val dists = profile.centroids.map(c =>
      Kernels.distance(Kernels.KullbackLeibler, c, monitored))
    val within = dists.zip(profile.radii).exists { case (d, r) => d <= r }
    Detection(dists, withinRadius = within, reclustered = !within,
      abnormal = !within && recluster(profile, monitored))
  }

  /** The recluster branch of detection (main.cpp:344-387): k-means over the
    * profile members ∪ {monitored}, initialized from the centroids ∪
    * {monitored}. True iff the monitored graph ends alone in its cluster
    * (abnormal).
    */
  def recluster(profile: Profile, monitored: Array[Int]): Boolean = {
    val re = kmeansFrom(profile.centroids :+ monitored,
      profile.memberArrays :+ monitored)
    val monitorIdx = profile.memberArrays.size
    re.clusters.exists(c => c.size == 1 && c.head == monitorIdx)
  }
}
