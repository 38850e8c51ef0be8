package graft.derive

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic "Iceberg lakehouse of source-code repositories"
  * (BASELINE.json input_hint): columns (repo, path, commit, lang, content),
  * generated fully distributed from `spark.range(nFiles)` — every column is
  * a pure hash-expression of the file ordinal + seed, so the same (nFiles,
  * seed) always produces bit-identical rows at any parallelism, and the
  * generator scales to arbitrarily many files without driver state (the
  * 10^12-file story: same expressions over a bigger range).
  *
  * `content` embeds cross-file references as literal `import <repo>/<path>`
  * lines whose targets are reconstructible (repo/path are pure functions of
  * the target ordinal) — so [[EdgeDerive]] has an oracle-computable ground
  * truth, replacing the reference's PROV-JSON ingest
  * (/root/reference/myapps/jsonparser.cpp:129-449) as the graph source.
  *
  * Skew, by construction (the north_rule's salting test bed):
  *  - repo sizes are quadratically skewed (repo 0 is the monorepo);
  *  - import targets follow a cubic power-law (file 0 is "the stdlib"),
  *    giving hot high-in-degree vertices;
  *  - ~1% of files import a *random earlier-and-later* pair, creating
  *    directed cycles so PageRank needs genuine power iteration.
  */
object CodeLakehouse {

  val Langs = Seq("scala", "java", "py", "go", "rs")

  /** Uniform [0,1) hash fraction of (ordinal, seed, tag) — the generator's
    * only randomness source (deterministic, distributed).
    */
  private def frac(ord: org.apache.spark.sql.Column, seed: Long, tag: String) =
    (pmod(xxhash64(lit(seed), lit(tag), ord), lit(1000000007L)).cast("double")
      / 1000000007.0)

  private def repoOf(ord: org.apache.spark.sql.Column, seed: Long, nRepos: Int) =
    format_string("repo-%04d",
      floor(frac(ord, seed, "repo") * frac(ord, seed, "repo") * nRepos)
        .cast("int"))

  private def pathOf(ord: org.apache.spark.sql.Column, seed: Long) = {
    val pkg = pmod(xxhash64(lit(seed), lit("pkg"), ord), lit(7L))
    val ext = element_at(
      typedLit(Langs), (pmod(xxhash64(lit(seed), lit("lang"), ord), lit(Langs.size.toLong)) + 1).cast("int"))
    format_string("src/pkg%d/File%d.%s", pkg, ord, ext)
  }

  private def langOf(ord: org.apache.spark.sql.Column, seed: Long) =
    element_at(typedLit(Langs),
      (pmod(xxhash64(lit(seed), lit("lang"), ord), lit(Langs.size.toLong)) + 1).cast("int"))

  /** Power-law import target: floor(nFiles * u^3) — small ordinals are hot. */
  private def targetOf(ord: org.apache.spark.sql.Column, seed: Long,
      k: Int, nFiles: Long) = {
    val u = frac(ord, seed, s"tgt$k")
    floor(u * u * u * nFiles).cast("long")
  }

  /** The lakehouse table. Columns: repo, path, commit, lang, content. */
  def table(spark: SparkSession, nFiles: Long, seed: Long = 42L,
      nRepos: Int = 100, partitions: Int = 0): DataFrame = {
    val parts =
      if (partitions > 0) partitions
      else graft.core.LinkGraph.partitions(spark)
    val ord = col("id")
    val base = spark.range(0, nFiles, 1, parts)

    // 0..9 import slots; slot k is active when k < nimports(ord)
    val nimports = (pmod(xxhash64(lit(seed), lit("ni"), ord), lit(8L)) + 2)
    val importLines = (0 until 10).map { k =>
      val tgt = targetOf(ord, seed, k, nFiles)
      when(lit(k) < nimports && tgt =!= ord,
        concat(lit("import "), repoOf(tgt, seed, nRepos), lit("/"),
          pathOf(tgt, seed)))
    }
    // ~1% back-edges: import a file with a *larger* ordinal → directed cycles
    val backTgt = least(
      floor(frac(ord, seed, "back") * nFiles).cast("long"), lit(nFiles - 1))
    val backLine = when(
      frac(ord, seed, "hasback") < 0.01 && backTgt =!= ord,
      concat(lit("import "), repoOf(backTgt, seed, nRepos), lit("/"),
        pathOf(backTgt, seed)))

    val filler = sha2(concat(lit(seed), lit("body"), ord.cast("string")), 256)
    base.select(
      repoOf(ord, seed, nRepos).as("repo"),
      pathOf(ord, seed).as("path"),
      substring(sha2(concat(lit(seed), lit("commit"), ord.cast("string")), 256),
        1, 12).as("commit"),
      langOf(ord, seed).as("lang"),
      concat_ws("\n",
        (Seq(format_string("package pkg%d",
          pmod(xxhash64(lit(seed), lit("pkg"), ord), lit(7L)))) ++
          importLines :+ backLine :+
          concat(lit("// body "), filler)): _*).as("content"))
  }

  /** sha256(content) row-invariant manifest (input_hint): one row per file. */
  def manifest(table: DataFrame): DataFrame =
    table.select(col("repo"), col("path"), col("commit"),
      sha2(col("content"), 256).as("content_sha256"))
}
