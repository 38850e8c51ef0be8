package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Second [[TableFormat]], a test fake (VERDICT r3 item 8): snapshot
  * directories plus an atomically-swapped pointer file — the minimal shape
  * of a catalog-format commit (Iceberg's snapshot pointer / Delta's _last_
  * checkpoint). Each write lands in `table/snap-<n>/`; the commit is an
  * ATOMIC_MOVE of a one-line `_current` file naming the snapshot. Readers
  * resolve `_current` at read time, so a concurrent overwrite never exposes
  * a half-written table, and stale snapshots stay on disk until vacuumed
  * (time-travel-shaped, like the real formats).
  *
  * It proves the seam is real beyond [[ParquetFormat]]: TableFormatSpec
  * drives both implementations through the same
  * create/overwrite/corpse/race/resume contract, and DurableStore runs
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
