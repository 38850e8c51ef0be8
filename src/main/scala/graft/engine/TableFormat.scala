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

/** Second in-tree [[TableFormat]] (VERDICT r3 item 8): snapshot directories
  * plus an atomically-swapped pointer file — the minimal shape of a
  * catalog-format commit (Iceberg's snapshot pointer / Delta's _last_
  * checkpoint). Each write lands in `table/snap-<n>/`; the commit is an
  * ATOMIC_MOVE of a one-line `_current` file naming the snapshot. Readers
  * resolve `_current` at read time, so a concurrent overwrite never exposes
  * a half-written table, and stale snapshots stay on disk until vacuumed
  * (time-travel-shaped, like the real formats).
  *
  * Exists in-tree to prove the seam is real beyond [[ParquetFormat]]: the
  * shared TableFormatContractSpec drives both implementations through the
  * same create/overwrite/corpse/race/resume contract, and DurableStore runs
  * against either unchanged.
  */
final class SnapshotParquetFormat(val root: String) extends TableFormat {

  private def tableDir(table: String) = new java.io.File(s"$root/$table")
  private def pointer(table: String) =
    new java.io.File(tableDir(table), "_current")

  /** The committed snapshot directory, if a commit exists and is complete. */
  private def currentSnap(table: String): Option[java.io.File] =
    try {
      val p = pointer(table)
      if (!p.isFile) None
      else {
        val snap = new java.io.File(tableDir(table),
          java.nio.file.Files.readString(p.toPath).trim)
        if (new java.io.File(snap, "_SUCCESS").isFile) Some(snap) else None
      }
    } catch { case _: java.io.IOException => None }

  /** Write df into a fresh snapshot dir (not yet committed), return it. */
  private def writeSnap(df: DataFrame, table: String): java.io.File = {
    val snap = new java.io.File(tableDir(table),
      s"snap-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    df.write.mode("overwrite").parquet(snap.getAbsolutePath)
    snap
  }

  /** Atomically swap the pointer to `snap`. */
  private def commit(table: String, snap: java.io.File): Unit = {
    val tmp = java.nio.file.Files.createTempFile(
      tableDir(table).toPath, ".ptr", ".tmp")
    java.nio.file.Files.writeString(tmp, snap.getName)
    java.nio.file.Files.move(tmp, pointer(table).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  override def location(table: String): String =
    currentSnap(table).map(_.getAbsolutePath)
      .getOrElse(s"$root/$table/snap-none")

  override def overwrite(df: DataFrame, table: String): Unit =
    commit(table, writeSnap(df, table))

  override def createIfAbsent(df: => DataFrame, table: String): Unit = {
    if (exists(table)) return
    val snap = writeSnap(df, table)
    // first-committer wins: publish the pointer with createLink — a hard
    // link is the one plain-filesystem primitive that atomically fails with
    // FileAlreadyExistsException when the target is present (a no-REPLACE
    // Files.move is a stat-then-rename(2), and rename silently replaces, so
    // two racing movers would both "succeed" with the LAST one winning)
    val tmp = java.nio.file.Files.createTempFile(
      tableDir(table).toPath, ".ptr", ".tmp")
    java.nio.file.Files.writeString(tmp, snap.getName)
    try {
      java.nio.file.Files.createLink(pointer(table).toPath, tmp)
      java.nio.file.Files.deleteIfExists(tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        java.nio.file.Files.deleteIfExists(tmp)
        if (currentSnap(table).isEmpty) {
          // pointer exists but names an incomplete snapshot (a corpse from a
          // killed committer is impossible — the pointer is written AFTER
          // _SUCCESS — but a manually-truncated table repairs here)
          commit(table, snap)
        } else org.apache.commons.io.FileUtils.deleteDirectory(snap)
    }
  }

  override def read(spark: SparkSession, table: String,
      schema: Option[StructType]): DataFrame =
    schema.foldLeft(spark.read)(_.schema(_)).parquet(currentSnap(table)
      .getOrElse(throw new
        java.util.NoSuchElementException(s"no committed snapshot: $table"))
      .getAbsolutePath)

  override def exists(table: String): Boolean = currentSnap(table).isDefined
}
