package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object TestSessions {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("frapspark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  /** `f` run with the session confs `kv` set; the previous values are
    * restored afterwards. */
  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `f`'s result and the jobs started while it runs (static plans: AQE
    * and auto-broadcast off, so the only broadcasts are explicit hints). */
  def withJobs[A](f: => A): (A, Int) =
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val sc = spark.sparkContext
      val jobs = new AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      ListenerDrain(sc)
      sc.addSparkListener(listener)
      try {
        val a = f
        ListenerDrain(sc)
        (a, jobs.get())
      } finally sc.removeSparkListener(listener)
    }
}

/** Plain-Scala reference implementations ("oracles") of the graph
  * algorithms, playing the role of frap's recorded reference outputs
  * (/root/reference/myapps/results.md). Deliberately naive and
  * collection-based — independent of the Spark dataflow under test.
  */
object GraphOracles {

  /** rank_t = 0.15 + 0.85 * Σ_in rank_{t-1}/outdeg, rank_0 = 1.0 —
    * /root/reference/example_apps/pagerank.cpp:74-112 semantics. */
  def pageRank(edges: Seq[(Long, Long)], tol: Double, maxIters: Int)
      : Map[Long, Double] = {
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outDeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    val inNbrs = edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    var rank = verts.map(_ -> 1.0).toMap
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIters && delta > tol) {
      val next = verts.map { v =>
        val s = inNbrs.getOrElse(v, Nil)
          .map(u => rank(u) / outDeg(u)).sum
        v -> (0.15 + 0.85 * s)
      }.toMap
      delta = verts.map(v => math.abs(next(v) - rank(v))).max
      rank = next
      iter += 1
    }
    rank
  }

  /** Union-find WCC: component label = min vertex id of the component. */
  def connectedComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
    verts.foreach(v => parent.getOrElseUpdate(v, v))
    edges.foreach { case (a, b) => union(a, b) }
    verts.map(v => v -> find(v)).toMap
  }

  /** Synchronous LPA, tie -> larger label, exactly `iters` rounds —
    * /root/reference/example_apps/communitydetection.cpp:126-156 rule. */
  def labelPropagation(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = (edges ++ edges.map(_.swap)).distinct
    val nbrs = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val verts = und.map(_._1).distinct
    var label = verts.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      label = verts.map { v =>
        val ns = nbrs.getOrElse(v, Nil)
        if (ns.isEmpty) v -> label(v)
        else {
          val counts = ns.map(label).groupBy(identity)
            .map { case (l, xs) => (l, xs.size) }
          val best = counts.maxBy { case (l, c) => (c, l) }._1
          v -> best
        }
      }.toMap
    }
    label
  }

  /** Brute-force undirected triangle enumeration. Returns (total, perVertex). */
  def triangles(edges: Seq[(Long, Long)]): (Long, Map[Long, Long]) = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val undSet = und.toSet
    val nbrsAbove = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val per = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var total = 0L
    for ((u, v) <- und; w <- nbrsAbove.getOrElse(u, Set.empty) if w > v)
      if (undSet.contains((v, w))) {
        total += 1
        per(u) += 1; per(v) += 1; per(w) += 1
      }
    (total, per.toMap)
  }
}
