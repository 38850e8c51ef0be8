package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CamFlow PROV-JSON ingest — the Spark dataflow form of the reference's
  * jsonparser (/root/reference/myapps/jsonparser.cpp:129-449): each input
  * line is one PROV-JSON document; vertices come from the `activity` and
  * `entity` maps (key = vertex id string, value carries `prov:type`), edges
  * from the four relation maps with their PROV src/dst field conventions
  * (jsonparser.cpp:210-391):
  *
  *   used:           prov:entity      -> prov:activity
  *   wasGeneratedBy: prov:activity    -> prov:entity
  *   wasInformedBy:  prov:informant   -> prov:informed
  *   wasDerivedFrom: prov:usedEntity  -> prov:generatedEntity
  *
  * Types are dictionary-encoded through the reference's fixed vocabularies
  * (27 vertex types, 39 edge types — jsonparser.cpp:36-101). Documented
  * deviations from the C++ walk: dense vertex ids are assigned by *sorted*
  * id-string order (not first-seen insertion order — any fixed bijection
  * leaves every downstream analytic invariant, cf. WLRelabel's md5 labels);
  * a vertex declared with different types on different lines takes the
  * *minimum* type string (the reference keeps the first insert); edges with
  * endpoints never declared are dropped (the reference's `map::operator[]`
  * silently aliases them to vertex 0 — an accident, not a contract).
  *
  * Output schema is the typed edge list [[graft.frap.WLRelabel]] reads:
  * (graph_id, src, dst, src_type, dst_type, edge_type).
  */
object ProvJsonReader {

  /** jsonparser.cpp:36-62 */
  val VertexTypes: Seq[(String, Int)] = Seq(
    "unknown" -> 0, "task" -> 1, "link" -> 2, "socket" -> 3, "iattr" -> 4,
    "mmaped_file" -> 5, "packet" -> 6, "disc_node" -> 7, "disc_agent" -> 8,
    "disc_activity" -> 9, "disc_entity" -> 10, "file_name" -> 11, "sb" -> 12,
    "address" -> 13, "sock" -> 14, "shm" -> 15, "msg" -> 16, "fifo" -> 17,
    "block" -> 18, "char" -> 19, "directory" -> 20, "file" -> 21,
    "inode_unknown" -> 22, "relation" -> 23, "string" -> 24, "xattr" -> 25,
    "packet_content" -> 26)

  /** jsonparser.cpp:63-101 */
  val EdgeTypes: Seq[(String, Int)] = Seq(
    "read" -> 0, "write" -> 1, "create" -> 2, "mmap_write" -> 3, "open" -> 4,
    "version_entity" -> 5, "named" -> 6, "exec" -> 7, "clone" -> 8,
    "mmap_read" -> 9, "mmap_exec" -> 10, "perm_read" -> 11, "perm_exec" -> 12,
    "unknown" -> 13, "change" -> 14, "bind" -> 15, "connect" -> 16,
    "listen" -> 17, "accept" -> 18, "link" -> 19, "search" -> 20,
    "send" -> 21, "receive" -> 22, "perm_write" -> 23, "sh_write" -> 24,
    "mmap" -> 25, "setattr" -> 26, "setxattr" -> 27, "removexattr" -> 28,
    "named_process" -> 29, "exec_process" -> 30, "version_activity" -> 31,
    "getattr" -> 32, "getxattr" -> 33, "listxattr" -> 34, "readlink" -> 35,
    "sh_read" -> 36, "send_packet" -> 37, "receive_packet" -> 38)

  private val CatType = org.apache.spark.sql.types.DataType
    .fromDDL("map<string, map<string, string>>")

  /** Nested category (values are objects): (key, attrs-map) rows. */
  private def catNested(docs: DataFrame, name: String): DataFrame =
    docs
      .select(from_json(get_json_object(col("value"), s"$$.$name"), CatType)
        .as("m"))
      .where(col("m").isNotNull)
      .select(explode(col("m")).as(Seq("k", "attrs")))

  /** Typed vertex table: (vid_str, vid, vtype) — dense ids by sorted
    * id-string order via range-sort + per-partition offsets (the same
    * two-pass scheme as EdgeDerive.catalog; no single-partition window).
    */
  def vertices(spark: SparkSession, docs: DataFrame): DataFrame = {
    val decls = catNested(docs, "activity")
      .unionAll(catNested(docs, "entity"))
      .unionAll(catNested(docs, "agent"))
      .select(col("k").as("vid_str"),
        coalesce(element_at(col("attrs"), "prov:type"), lit("unknown"))
          .as("vtype_str"))
      .groupBy("vid_str").agg(min("vtype_str").as("vtype_str"))
    val sorted = decls
      .repartitionByRange(col("vid_str"))
      .sortWithinPartitions("vid_str")
    val withIds = sorted.rdd.zipWithIndex.map { case (row, i) =>
      (row.getString(0), i, row.getString(1))
    }
    val vocab = spark.createDataFrame(VertexTypes).toDF("vtype_str", "vt")
    spark.createDataFrame(withIds).toDF("vid_str", "vid", "vtype_str")
      .join(broadcast(vocab), Seq("vtype_str"), "left")
      .select(col("vid_str"), col("vid"),
        coalesce(col("vt"), lit(0)).as("vtype"))
  }

  /** Typed edge list from a DataFrame of PROV-JSON lines (`value` column). */
  def typedEdges(spark: SparkSession, docs: DataFrame,
      graphId: String = "g0"): DataFrame = {
    def rel(name: String, srcField: String, dstField: String) =
      catNested(docs, name).select(
        element_at(col("attrs"), srcField).as("src_str"),
        element_at(col("attrs"), dstField).as("dst_str"),
        coalesce(element_at(col("attrs"), "prov:type"), lit("unknown"))
          .as("etype_str"))
    val rels =
      rel("used", "prov:entity", "prov:activity")
        .unionAll(rel("wasGeneratedBy", "prov:activity", "prov:entity"))
        .unionAll(rel("wasInformedBy", "prov:informant", "prov:informed"))
        .unionAll(rel("wasDerivedFrom", "prov:usedEntity",
          "prov:generatedEntity"))
        .where(col("src_str").isNotNull && col("dst_str").isNotNull)
    val verts = vertices(spark, docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val evocab = spark.createDataFrame(EdgeTypes).toDF("etype_str", "et")
    val out = rels
      .join(broadcast(evocab), Seq("etype_str"), "left")
      .join(verts.select(col("vid_str").as("src_str"), col("vid").as("src"),
        col("vtype").as("src_type")), Seq("src_str"))
      .join(verts.select(col("vid_str").as("dst_str"), col("vid").as("dst"),
        col("vtype").as("dst_type")), Seq("dst_str"))
      .select(lit(graphId).as("graph_id"), col("src"), col("dst"),
        col("src_type"), col("dst_type"),
        coalesce(col("et"), lit(0)).as("edge_type"))
    out
  }

  /** Read PROV-JSON from text file(s). */
  def read(spark: SparkSession, path: String,
      graphId: String = "g0"): DataFrame =
    typedEdges(spark, spark.read.text(path), graphId)

  /** Deterministic synthetic PROV-JSON corpus (no external data): `lines`
    * documents, each declaring a few activities/entities plus all four
    * relation kinds, with one vertex shared across every line (exercises
    * cross-line dedup). Pure string assembly, fixed content.
    */
  def synthesize(spark: SparkSession, lines: Int = 3): DataFrame = {
    import spark.implicits._
    val vts = Seq("task", "file", "socket", "disc_activity", "directory")
    val ets = Seq("read", "write", "connect", "clone", "version_entity")
    val docs = (0 until lines).map { g =>
      def act(i: Int) = s"a${g}_$i"
      def ent(i: Int) = s"e${g}_$i"
      val acts = (0 until 3).map { i =>
        s""""${act(i)}": {"prov:type": "${if (i % 2 == 0) "task"
          else "disc_activity"}"}"""
      } :+ s""""shared_act": {"prov:type": "task"}"""
      val ents = (0 until 4).map { i =>
        s""""${ent(i)}": {"prov:type": "${vts(2 + (g + i) % 3)}"}"""
      }
      val used = (0 until 3).map { i =>
        s""""u${g}_$i": {"prov:type": "${ets(i % 2)}",
           | "prov:entity": "${ent(i)}",
           | "prov:activity": "${act(i)}"}""".stripMargin.replace("\n", "")
      }
      val gen = (0 until 2).map { i =>
        s""""w${g}_$i": {"prov:type": "write",
           | "prov:activity": "${act(i)}",
           | "prov:entity": "${ent(i + 1)}"}""".stripMargin.replace("\n", "")
      }
      val inf = (0 until 2).map { i =>
        s""""f${g}_$i": {"prov:type": "clone",
           | "prov:informant": "${act(i)}",
           | "prov:informed": "${if (i == 0) "shared_act" else act(i + 1)}"}"""
          .stripMargin.replace("\n", "")
      }
      val der = Seq(
        s""""d${g}_0": {"prov:type": "version_entity",
           | "prov:usedEntity": "${ent(0)}",
           | "prov:generatedEntity": "${ent(3)}"}""".stripMargin
          .replace("\n", ""))
      s"""{"prefix": {"cf": "camflow"},
         | "activity": {${acts.mkString(", ")}},
         | "entity": {${ents.mkString(", ")}},
         | "used": {${used.mkString(", ")}},
         | "wasGeneratedBy": {${gen.mkString(", ")}},
         | "wasInformedBy": {${inf.mkString(", ")}},
         | "wasDerivedFrom": {${der.mkString(", ")}}}""".stripMargin
        .replace("\n", "")
    }
    docs.toDF("value")
  }
}
