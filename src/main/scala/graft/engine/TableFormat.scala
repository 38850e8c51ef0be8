package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table-format seam: every durable table graft writes (superstep state,
  * generated fixtures, job outputs that need re-reading) goes through this
  * interface rather than raw `df.write.parquet(path)` calls, so the mapping
  * SURVEY §1.3/§2.9 makes — shard commit/split → table-format commit,
  * compaction → table maintenance, edge deletion → MERGE/DELETE — is a real
  * code seam: an Iceberg/Delta deployment swaps [[ParquetFormat]] for a
  * catalog-backed implementation (`spark.table`/`saveAsTable` + the format's
  * transactional commit) without touching any caller.
  *
  * The sandbox implementation is bare parquet directories (no catalog
  * service is available here), which is also what the DuckDB oracle reads.
  */
trait TableFormat {

  /** Replace `table`'s content with `df` (the format's commit semantics). */
  def overwrite(df: DataFrame, table: String): Unit

  /** Create `table` from `df` only if it does not already exist; concurrent
    * creators must never expose a half-written table (Iceberg: CREATE TABLE
    * IF NOT EXISTS commit race — one winner, losers read the winner's rows).
    */
  def createIfAbsent(df: => DataFrame, table: String): Unit

  /** `table`'s rows. `schema`, when given, is the schema the table was
    * written with, and the read trusts it instead of inferring one (for
    * parquet, inference is a Spark job of its own). */
  def read(spark: SparkSession, table: String,
      schema: Option[StructType] = None): DataFrame

  /** True iff `table` exists AND its last write committed completely — a
    * half-written table (writer killed mid-flight) must read as absent, or
    * [[createIfAbsent]] would latch onto truncated data forever (and a
    * bytes-level oracle reading the same files could never catch it).
    * Catalog formats get this from their transaction log; parquet uses the
    * `_SUCCESS` marker.
    */
  def exists(table: String): Boolean

  /** Physical location of `table` for path-based consumers (the DuckDB
    * oracle's `read_parquet`); catalog formats may not expose one.
    */
  def location(table: String): String
}

/** Plain parquet-directory implementation rooted at `root`. Atomicity for
  * [[createIfAbsent]] comes from write-to-temp + directory rename (POSIX
  * rename is atomic; on object stores a real catalog format supplies the
  * commit instead).
  */
final class ParquetFormat(val root: String) extends TableFormat {

  override def location(table: String): String = s"$root/$table"

  override def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(location(table))

  override def createIfAbsent(df: => DataFrame, table: String): Unit = {
    if (exists(table)) return
    val target = new java.io.File(location(table))
    val tmp = new java.io.File(
      s"$root/.tmp-${table.replace('/', '_')}-${ProcessHandle.current().pid()}")
    df.write.mode("overwrite").parquet(tmp.getAbsolutePath)
    // EVERY mutation of the target — corpse delete and commit rename alike —
    // happens under the lock file, so the full check-delete-rename sequence
    // is exclusive and a committed winner can never be deleted (ADVICE r3's
    // delete-then-rename TOCTOU; an earlier unlocked rename-first variant
    // still let a repairer classify a table that committed between its
    // exists() probe and its isDirectory probe as a corpse). The expensive
    // part — the parquet write — stays outside the lock; the critical
    // section is two stats, at most one corpse delete, and one rename.
    val lock = new java.io.File(s"$root/.lock-${table.replace('/', '_')}")
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var locked = false
    try {
      while (!locked) {
        locked = lock.createNewFile()
        if (!locked) {
          if (System.nanoTime() > deadline) {
            org.apache.commons.io.FileUtils.deleteDirectory(tmp)
            throw new IllegalStateException(
              s"createIfAbsent($table): lock ${lock.getName} held > 30s " +
                "(stale lock from a killed repairer? remove it manually)")
          }
          Thread.sleep(50)
        }
      }
      if (exists(table)) { // lost the race to a committed winner: keep its bytes
        org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      } else {
        // no committed table: the target (if present) is a corpse — a
        // directory without _SUCCESS left by a killed writer
        if (target.isDirectory)
          org.apache.commons.io.FileUtils.deleteDirectory(target)
        if (!tmp.renameTo(target)) {
          org.apache.commons.io.FileUtils.deleteDirectory(tmp)
          throw new IllegalStateException(
            s"createIfAbsent($table): rename failed under lock")
        }
      }
    } finally if (locked) lock.delete()
  }

  override def read(spark: SparkSession, table: String,
      schema: Option[StructType]): DataFrame =
    schema.foldLeft(spark.read)(_.schema(_)).parquet(location(table))

  override def exists(table: String): Boolean =
    new java.io.File(location(table), "_SUCCESS").isFile
}
