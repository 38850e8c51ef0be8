package perfbench

import org.apache.spark.sql.DataFrame

/** Single-threaded in-JVM references the engine's outputs are checked
  * against. Each works on a [[Reference.Graph]]: the directed edge list
  * with vertex ids renumbered densely in ascending id order, so the
  * smallest dense index of a set is also its smallest id.
  */
object Reference {

  final class Graph(val ids: Array[Long], val src: Array[Int], val dst: Array[Int]) {
    def n: Int = ids.length
    def m: Int = src.length
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

    /** CSR over `src`: row u holds the dst of every edge leaving u. */
    lazy val (outStart, outDst) = csr(src, dst)

    /** Distinct undirected neighbours of every vertex, sorted. */
    lazy val (undStart, undNbr) = {
      val (st, nb) = csr(src ++ dst, dst ++ src)
      val out = Array.newBuilder[Int]
      val start = new Array[Int](n + 1)
      var k = 0
      for (u <- 0 until n) {
        start(u) = k
        val row = java.util.Arrays.copyOfRange(nb, st(u), st(u + 1))
        java.util.Arrays.sort(row)
        var i = 0
        while (i < row.length) {
          if ((i == 0 || row(i) != row(i - 1)) && row(i) != u) { out += row(i); k += 1 }
          i += 1
        }
      }
      start(n) = k
      (start, out.result())
    }

    private def csr(s: Array[Int], d: Array[Int]): (Array[Int], Array[Int]) = {
      val start = new Array[Int](n + 1)
      s.foreach(u => start(u + 1) += 1)
      for (u <- 0 until n) start(u + 1) += start(u)
      val fill = start.clone()
      val out = new Array[Int](s.length)
      var e = 0
      while (e < s.length) { out(fill(s(e))) = d(e); fill(s(e)) += 1; e += 1 }
      (start, out)
    }
  }

  /** Collect the (src, dst) columns of `edges` into a [[Graph]]. */
  def collect(edges: DataFrame): Graph = {
    val rows = edges.select("src", "dst").collect()
    val s = rows.map(_.getLong(0))
    val d = rows.map(_.getLong(1))
    val ids = (s ++ d).distinct.sorted
    def idx(x: Long) = java.util.Arrays.binarySearch(ids, x)
    new Graph(ids, s.map(idx), d.map(idx))
  }

  /** One superstep of [[graft.algos.PageRank]]'s recurrence over the CSR:
    * rank'(v) = 0.15 + 0.85 · Σ_{(u,v)} rank(u) / outdeg(u).
    */
  def pagerankStep(g: Graph, rank: Array[Double]): Array[Double] = {
    val in = new Array[Double](g.n)
    val st = g.outStart
    val nb = g.outDst
    var u = 0
    while (u < g.n) {
      val deg = st(u + 1) - st(u)
      if (deg > 0) {
        val share = rank(u) / deg
        var e = st(u)
        while (e < st(u + 1)) { in(nb(e)) += share; e += 1 }
      }
      u += 1
    }
    var v = 0
    while (v < g.n) { in(v) = 0.15 + 0.85 * in(v); v += 1 }
    in
  }

  /** Ranks after `supersteps` supersteps from rank 1.0, and the median
    * wall seconds of one superstep.
    */
  def pagerank(g: Graph, supersteps: Int): (Array[Double], Double) = {
    var r = Array.fill(g.n)(1.0)
    val walls = (1 to supersteps).map { _ =>
      val t0 = System.nanoTime()
      r = pagerankStep(g, r)
      (System.nanoTime() - t0) / 1e9
    }
    (r, Stats.median(walls))
  }

  /** Weakly connected components by union-find; label = min id. */
  def components(g: Graph): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (e <- 0 until g.m) {
      val a = find(g.src(e)); val b = find(g.dst(e))
      // keep the smaller index as root: the root is the component minimum
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    Array.tabulate(g.n)(v => g.ids(find(v)))
  }

  /** `rounds` synchronous rounds of [[graft.algos.LabelPropagation]]'s rule:
    * each vertex takes the most frequent label among its distinct
    * undirected neighbours, the larger label winning ties; a vertex with no
    * neighbours keeps its label.
    */
  def labelPropagation(g: Graph, rounds: Int): Array[Long] = {
    var label = g.ids.clone()
    val st = g.undStart
    val nb = g.undNbr
    for (_ <- 1 to rounds) {
      val next = label.clone()
      for (v <- 0 until g.n if st(v + 1) > st(v)) {
        val ls = (st(v) until st(v + 1)).map(e => label(nb(e))).toArray
        java.util.Arrays.sort(ls)
        var best = ls(0); var bestCnt = 0
        var i = 0
        while (i < ls.length) {
          var j = i
          while (j < ls.length && ls(j) == ls(i)) j += 1
          if (j - i >= bestCnt) { best = ls(i); bestCnt = j - i }
          i = j
        }
        next(v) = best
      }
      label = next
    }
    label
  }

  /** Triangles of the simple undirected graph, by intersecting the sorted
    * out-lists of the (degree, id)-oriented adjacency along every edge.
    */
  def triangles(g: Graph): Long = {
    val st = g.undStart
    val nb = g.undNbr
    def deg(v: Int) = st(v + 1) - st(v)
    def below(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val out = Array.tabulate(g.n) { v =>
      (st(v) until st(v + 1)).map(nb).filter(w => below(v, w)).sorted.toArray
    }
    var total = 0L
    for (a <- 0 until g.n; b <- out(a)) {
      val x = out(a); val y = out(b)
      var i = 0; var j = 0
      while (i < x.length && j < y.length) {
        if (x(i) < y(j)) i += 1
        else if (x(i) > y(j)) j += 1
        else { total += 1; i += 1; j += 1 }
      }
    }
    total
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
