package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** `nodetool snapshot` + restore, executed end to end (round 16) —
  * the time-travel mechanism every operational runbook leans on:
  * a snapshot HARD-LINKS every live component file (O(#files) metadata
  * work, zero data copied — sstables are immutable, so the links stay
  * valid no matter what compaction does to the live set), and a
  * restore re-reads the linked set, reproducing the exact
  * pre-snapshot state after the live data has moved on.
  *
  *  - **Snapshot.** Every component of the live compressed set links
  *    into the snapshot dir ([[ensureSnapshot]]); the spec pins that
  *    they are true hard links (same file key, zero bytes copied).
  *  - **Mutate.** A major compaction replaces the live set: LWW
  *    winners, droppable tombstones purged — the live relation is now
  *    genuinely different (fewer events).
  *  - **Restore.** The snapshot's files scan through the production
  *    path and must digest-equal the ORIGINAL corpus exactly, while
  *    the compacted live set equals the winners relation — both
  *    checked per sstable against the oracle's replay.
  *
  * Scale shape: snapshotting is O(#files) link syscalls (what the
  * real tool does — no data motion at any corpus size); restore reads
  * are ordinary parallel scans of the linked files. */
object Snapshot {

  private val memo = new SessionMemo[String]

  val Tag = "pre-compact"

  private val M = 1000003L


  /** Hard-link the live set's components into a snapshot dir
    * (session-memoized). Returns the snapshot dir. */
  def ensureSnapshot(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|snapshot") {
      val live = CassandraDataFixture.ensureFiles(spark, dir,
        compressed = true)
      val snap = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory(s"graft-snap-$Tag"))
      Option(new java.io.File(live).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.isFile)
        .foreach { f =>
          java.nio.file.Files.createLink(
            snap.resolve(f.getName), f.toPath)
        }
      snap.toString
    }

  private def eventHash = graft.functions.PortableHash.h60(concat_ws(":",
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("size_bytes"))) % M

  private def rollup(ev: DataFrame, state: String): DataFrame =
    ev.groupBy("sstable_id")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
      .select(lit(state).as("state"),
        concat(lit("sst-"),
          (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
            .cast("long") - 1L).cast("string")).as("sstable_id"),
        col("events"), col("digest"))

  /** q231: the snapshot survives the compaction — one row per
    * (state, sstable): the restored snapshot scan reproduces the
    * original per-file relation exactly, while the compacted live set
    * is the winners relation; both replayed by the oracle. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val snapPath = ensureSnapshot(spark, dir)
    // mutate AFTER the snapshot exists: the live set compacts away
    val compactedPath = Compaction.ensureCompacted(spark, dir)
    // light-row-work scans (per-sstable count + h60-sum rollups): fixed
    // split cap — see DataDbScan.LightRowWorkSplit
    val restored = rollup(DataDb.cells(spark, snapPath,
      format = DataDbScan.FormatCassandra,
      maxSplitBytes = DataDbScan.LightRowWorkSplit), "snapshot")
    val live = rollup(DataDb.cells(spark, compactedPath,
      format = DataDbScan.FormatCassandra,
      maxSplitBytes = DataDbScan.LightRowWorkSplit), "compacted")
    restored.unionByName(live).orderBy("state", "sstable_id")
  }
}
