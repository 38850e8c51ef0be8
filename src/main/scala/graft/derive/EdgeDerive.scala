package graft.derive

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives the engine's `(src, dst, weight)` edge table from a lakehouse
  * table of source files `(repo, path, commit, lang, content)` by extracting
  * `import <repo>/<path>` references and resolving them against the file
  * catalog. This is frapspark's analog of the reference's edge-list ingest +
  * PROV-JSON parser (/root/reference/src/preprocessing/conversions.hpp:
  * 212-288, myapps/jsonparser.cpp:129-449): self-edges dropped, duplicate
  * references collapsed into a weight.
  *
  * Vertex ids: dense ordinals assigned by sorting the file catalog on
  * (repo, path) — a distributed sort + per-partition offset scan
  * (zipWithIndex), i.e. two passes and one range shuffle over the catalog,
  * never a single-partition window. At 10^12 files the catalog sort is the
  * preprocessing step (the reference's sharder played this role).
  */
object EdgeDerive {

  private val ImportRe = "(?m)^import ([^\\n]+)$"

  /** File catalog with dense ids: (fid, repo, path, fkey) where
    * fkey = repo || '/' || path is the join key import references use.
    */
  def catalog(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    // distinct: a real lakehouse has multiple commits per path; without it a
    // duplicated fkey gets several fids, multiplying every resolved edge
    val keyed = files.select(
      concat(col("repo"), lit("/"), col("path")).as("fkey"))
      .distinct()
      .repartitionByRange(col("fkey"))
      .sortWithinPartitions("fkey")
    val withIds = keyed.rdd.zipWithIndex.map { case (row, i) =>
      (i, row.getString(0))
    }
    spark.createDataFrame(withIds).toDF("fid", "fkey")
  }

  /** (src, dst, weight): one edge per (importer, imported) pair, weight =
    * number of duplicate import lines; unresolved references and self-imports
    * dropped.
    */
  def edges(files: DataFrame, cat: DataFrame): DataFrame = {
    val refs = files.select(
      concat(col("repo"), lit("/"), col("path")).as("src_key"),
      explode(expr(
        s"""regexp_extract_all(content, '(?m)^import (.+)$$', 1)""")).as("dst_key"))
    val srcIds = cat.select(col("fid").as("src"), col("fkey").as("src_key"))
    val dstIds = cat.select(col("fid").as("dst"), col("fkey").as("dst_key"))
    refs
      .join(srcIds, "src_key")
      .join(dstIds, "dst_key") // inner join: unresolved imports drop out
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).cast("double").as("weight"))
  }

  /** Full derivation: lakehouse table -> (edges, catalog). */
  def derive(files: DataFrame): (DataFrame, DataFrame) = {
    val cat = catalog(files)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (edges(files, cat), cat)
  }
}
