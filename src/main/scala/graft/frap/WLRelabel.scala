package graft.frap

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weisfeiler–Lehman-style iterative vertex relabeling over typed provenance
  * graphs — the Spark dataflow form of the reference's VertexRelabel program
  * (myapps/vertex.cpp:30-347, string prototype
  * camflow/vertexrelabel.cpp:94-147): initial label = vertex type; each
  * round a vertex's new label encodes (own label, sorted incoming
  * (label, edgeType) multiset, sorted outgoing (label, edgeType) multiset).
  *
  * Deviations (documented): the reference dictionary-encodes label strings
  * into dense ints through a shared singleton map (kernelmaps.cpp:39-49,
  * insert_relabel) and alternates update/swap supersteps; here labels are
  * md5 digests of the same canonical strings — a deterministic, coordination-
  * free bijection of the dictionary codes, under which label histograms (and
  * therefore every kernel distance) are invariant. Each graph relabels in
  * one typed pass over its own edges (all rounds in memory), as each graph
  * is one engine run in the reference (main.cpp:113-119).
  *
  * Memory contract: one graph's edges sit in one task. A graph must fit a
  * task's heap, as it must fit one GraphChi engine run in the reference.
  *
  * Input edge schema: (graph_id, src, dst, src_type, dst_type, edge_type);
  * the types are read as Spark casts them to string.
  */
object WLRelabel {

  /** One input edge, its types cast to string. */
  final case class TypedEdge(graph_id: String, src: Long, dst: Long,
      src_type: String, dst_type: String, edge_type: String)

  /** Run `iters` WL rounds; returns (graph_id, id, iter, label) for every
    * iteration 0..iters (iteration 0 = initial type labels). The union over
    * iterations is what feeds the kernel histograms, mirroring the
    * reference's per-update label_map inserts (kernelmaps.cpp:54-62).
    * Lazy: one `groupByKey(graph_id)` exchange, no join.
    */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    import edges.sparkSession.implicits._
    edges.select(col("graph_id"), col("src"), col("dst"),
        col("src_type").cast("string").as("src_type"),
        col("dst_type").cast("string").as("dst_type"),
        col("edge_type").cast("string").as("edge_type"))
      .as[TypedEdge].groupByKey(_.graph_id)
      .flatMapGroups((g, es) => relabel(g, es.toArray, iters))
      .toDF("graph_id", "id", "iter", "label")
  }

  /** Spark's `concat_ws`: nulls are skipped. */
  private def concatWs(sep: String, xs: String*): String =
    xs.filter(_ != null).mkString(sep)

  /** One graph's rounds. The initial label is the smallest type any
    * incident edge claims (vertex.cpp:104-120 reads it off an out-edge's
    * new_src or an in-edge's new_dst). A round's label is
    * md5("self|in1 in2 ...|out1 out2 ...") over "label#edgeType" neighbor
    * signatures in Spark's string order. A null graph_id matches no edge,
    * as a SQL join on graph_id would, so its vertices get no signatures.
    */
  private def relabel(g: String, es: Array[TypedEdge], iters: Int)
      : Iterator[(String, Long, Int, String)] = {
    val ids = (es.map(_.src) ++ es.map(_.dst)).distinct
    val index = ids.zipWithIndex.toMap
    val (src, dst) = (es.map(e => index(e.src)), es.map(e => index(e.dst)))
    val init = new Array[String](ids.length)
    for ((v, t) <- src.zip(es.map(_.src_type)) ++ dst.zip(es.map(_.dst_type))
        if t != null && (init(v) == null || Kernels.LabelOrder.lt(t, init(v))))
      init(v) = t
    def round(labels: Array[String]): Array[String] = {
      val in, out = Array.fill(ids.length)(List.empty[String])
      if (g != null) for (k <- es.indices) {
        in(dst(k)) ::= concatWs("#", labels(src(k)), es(k).edge_type)
        out(src(k)) ::= concatWs("#", labels(dst(k)), es(k).edge_type)
      }
      def sig(xs: List[String]) = xs.sorted(Kernels.LabelOrder).mkString(" ")
      Array.tabulate(ids.length)(v => DigestUtils.md5Hex(
        concatWs("|", labels(v), sig(in(v)), sig(out(v))).getBytes(UTF_8)))
    }
    Iterator.iterate(init)(round).take(iters + 1).zipWithIndex
      .flatMap { case (ls, t) => ls.indices.map(v => (g, ids(v), t, ls(v))) }
  }

  /** Per-graph label histogram over all WL iterations:
    * (graph_id, label, cnt) — the kernel map (kernelmaps.cpp:54-78).
    */
  def kernelCounts(wlLabels: DataFrame): DataFrame =
    wlLabels.groupBy("graph_id", "label").agg(count(lit(1)).as("cnt"))

  /** Shared DuckDB CTE block replicating [[run]]+[[kernelCounts]] over a
    * persisted typed-edge fixture: md5 labels, '#'-joined neighbor sigs
    * sorted lexicographically — identical strings to the Spark side.
    * Ends with `kc(graph_id, label, cnt)`.
    */
  private def wlCtes(fixtureSql: String, iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""i$k AS (
         |  SELECT e.graph_id, e.dst AS id,
         |         string_agg(l.label || '#' || e.edge_type, ' '
         |           ORDER BY l.label || '#' || e.edge_type) AS sig
         |  FROM e JOIN l${k - 1} l
         |    ON l.graph_id = e.graph_id AND l.id = e.src
         |  GROUP BY 1, 2),
         |o$k AS (
         |  SELECT e.graph_id, e.src AS id,
         |         string_agg(l.label || '#' || e.edge_type, ' '
         |           ORDER BY l.label || '#' || e.edge_type) AS sig
         |  FROM e JOIN l${k - 1} l
         |    ON l.graph_id = e.graph_id AND l.id = e.dst
         |  GROUP BY 1, 2),
         |l$k AS MATERIALIZED (
         |  SELECT l.graph_id, l.id,
         |         md5(l.label || '|' || COALESCE(i.sig, '') || '|' ||
         |             COALESCE(o.sig, '')) AS label
         |  FROM l${k - 1} l
         |  LEFT JOIN i$k i ON i.graph_id = l.graph_id AND i.id = l.id
         |  LEFT JOIN o$k o ON o.graph_id = l.graph_id AND o.id = l.id)"""
        .stripMargin
    }.mkString(",\n")
    val unions = (1 to iters)
      .map(k => s"UNION ALL SELECT graph_id, label FROM l$k").mkString(" ")
    s"""e AS MATERIALIZED (SELECT * FROM $fixtureSql),
       |l0 AS MATERIALIZED (
       |  SELECT graph_id, id, MIN(label) AS label FROM (
       |    SELECT graph_id, src AS id, CAST(src_type AS VARCHAR) AS label FROM e
       |    UNION ALL
       |    SELECT graph_id, dst, CAST(dst_type AS VARCHAR) FROM e)
       |  GROUP BY 1, 2),
       |$rounds,
       |kc AS MATERIALIZED (
       |  SELECT graph_id, label, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM (SELECT graph_id, label FROM l0 $unions)
       |  GROUP BY 1, 2)""".stripMargin
  }

  def kernelOracleSql(fixtureSql: String, iters: Int): String =
    s"""WITH ${wlCtes(fixtureSql, iters)}
       |SELECT graph_id, label, cnt FROM kc ORDER BY 1, 2""".stripMargin

  /** Oracle for Kernels.euclideanMatrix over the same WL counts:
    * dist = sqrt(Σa² + Σb² − 2Σab), quantized q6.
    */
  def distanceOracleSql(fixtureSql: String, iters: Int): String =
    s"""WITH ${wlCtes(fixtureSql, iters)},
       |norms AS (SELECT graph_id, SUM(cnt * cnt) AS sq FROM kc GROUP BY 1),
       |pairs AS (
       |  SELECT a.graph_id AS ga, b.graph_id AS gb, a.sq AS sqa, b.sq AS sqb
       |  FROM norms a, norms b WHERE a.graph_id < b.graph_id),
       |dots AS (
       |  SELECT a.graph_id AS ga, b.graph_id AS gb,
       |         SUM(a.cnt * b.cnt) AS dot
       |  FROM kc a JOIN kc b ON a.label = b.label
       |  WHERE a.graph_id < b.graph_id GROUP BY 1, 2)
       |SELECT p.ga, p.gb,
       |  CAST(FLOOR(sqrt(p.sqa + p.sqb - 2.0 * COALESCE(d.dot, 0)) * 1e6 + 0.5)
       |    AS BIGINT) AS dist_q6
       |FROM pairs p LEFT JOIN dots d ON d.ga = p.ga AND d.gb = p.gb
       |ORDER BY p.ga, p.gb""".stripMargin
}
