package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** Incremental backups, executed end to end (round 16) — the other
  * half of the backup story W36's snapshot opened: with
  * `incremental_backups: true`, every NEWLY FLUSHED sstable hard-links
  * into `backups/` at flush time, so a restore is the last full
  * snapshot PLUS the incremental links since — no second full copy
  * ever happens.
  *
  *  - **Base.** The W36 snapshot of the live set (hard links, zero
  *    bytes copied).
  *  - **New flushes.** The commitlog recovery flush (q221's output —
  *    the engine's own post-snapshot write activity) stands in for
  *    the memtable flushes a live node produces after the snapshot;
  *    each of its component files links into the backups dir at
  *    "flush time".
  *  - **Restore.** Scanning snapshot ∪ backups must reproduce exactly
  *    base corpus + recovery state — the union relation the oracle
  *    replays — and per-file the backups hold only post-snapshot
  *    generations.
  *
  * Scale shape: like the snapshot, the backup is O(#new-files) link
  * syscalls per flush — constant metadata work per flush at any
  * corpus size; restores are parallel scans of the linked set. */
object IncrementalBackup {

  private val memo = new SessionMemo[String]

  private val M = 1000003L


  /** Link the post-snapshot flushes (the q221 recovery output) into a
    * backups dir (session-memoized). */
  def ensureBackups(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|incbackup") {
      val flushes = CommitLog.flushedDir(spark, dir)
      val backups = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-backups"))
      Option(new java.io.File(flushes).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.isFile)
        .foreach { f =>
          java.nio.file.Files.createLink(
            backups.resolve(f.getName), f.toPath)
        }
      backups.toString
    }

  private def eventHash = graft.functions.PortableHash.h60(concat_ws(":",
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("size_bytes"))) % M

  /** q235: the restored set — snapshot ∪ incremental backups scanned
    * together, one row per restored sstable tagged by tier, the union
    * reproducing base corpus + recovery state exactly. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val snap = Snapshot.ensureSnapshot(spark, dir)
    val backups = ensureBackups(spark, dir)
    // light-row-work scans (per-sstable count + h60-sum rollups): fixed
    // split cap — see DataDbScan.LightRowWorkSplit
    def tierOf(path: String, tier: String) =
      DataDb.cells(spark, path, format = DataDbScan.FormatCassandra,
        maxSplitBytes = DataDbScan.LightRowWorkSplit)
        .groupBy("sstable_id")
        .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
        .select(lit(tier).as("tier"),
          concat(lit("sst-"),
            (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
              .cast("long") - 1L).cast("string")).as("sstable_id"),
          col("events"), col("digest"))
    tierOf(snap, "snapshot")
      .unionByName(tierOf(backups, "backup"))
      .orderBy("tier", "sstable_id")
  }
}
