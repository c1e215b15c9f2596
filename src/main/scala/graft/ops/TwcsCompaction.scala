package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** TIME-WINDOW compaction, executed end to end (round 15) — the third
  * strategy of the trio (STCS q171/q186, LCS q172/q175/q183), and the
  * one that makes `sstableexpiredblockers` (q178) actionable: the
  * reference SORTS by TWCS order (SSTableMetadataCollector.java:60-69)
  * and flags isTWCS (ColumnFamilyBackend.java:41) but can never run the
  * cycle. Semantics, each branch oracle-replayable from parquet:
  *
  *  - **Window assignment** — each sstable's window is
  *    `maxTimestamp-day div [[WindowDays]]`, read from its OWN
  *    Statistics.db (Cassandra buckets by max timestamp so an sstable
  *    belongs to the window it was last written in). O(#files) sidecar
  *    metadata, zero data reads — the same selection shape as the STCS
  *    tier table.
  *  - **Whole-sstable DROP** — a fully-expired sstable (Statistics.db
  *    maxLocalDeletionTime < gcBefore) whose q178 blocker set is EMPTY
  *    (no live sstable overlaps its key range with min timestamp at or
  *    below its max) is dropped without ever being scanned: the payoff
  *    TWCS exists for, zero-I/O space reclamation. A BLOCKED candidate
  *    survives untouched — its tombstones must keep shadowing the
  *    older overlapping data. (Blocked candidates are held OUT of
  *    window bucketing here — the conservative branch; Cassandra can
  *    also fold them into a tombstone compaction behind threshold
  *    heuristics.)
  *  - **In-window merge** — live windows with ≥ [[MinThreshold]]
  *    members compact into ONE sstable per window (the fixture's
  *    newest window holds 2 size-similar sstables, so the size-tiered
  *    grouping within the window selects exactly the whole window);
  *    single-member windows NEVER re-compact — the TWCS guarantee that
  *    makes time-series writes O(1) rewrites per datum. Cross-window
  *    merging never happens.
  *
  * Executed, not simulated: the merge runs the q162 LWW aggregate with
  * the window prefixed to the merge key, passes the [[PurgeGuard]]
  * (sidecar prefilter + broadcast confirm — vacuously empty here since
  * droppable tombstones live only in the expired files, and proven so
  * without any exchange), and writes one real compressed sstable per
  * merged window, re-read through the production scan for the q188
  * relation.
  *
  * Scale shape: drop/block decisions and window buckets are O(#files)
  * sidecar reads; the only data-touching work is one combine-enabled
  * merge exchange per ≥2-member window; dropped files are never
  * scanned (their q188 rollup rows re-read them only to REPORT the
  * reclaimed volume — the relation's evidence, not the operator's
  * cost). */
object TwcsCompaction {

  /** Window width in write-days (fixture-aligned; a real deployment
    * passes its compaction_window_size through the same division). */
  val WindowDays = 640L

  /** Minimum live members that trigger an in-window merge (Cassandra's
    * min_threshold analog within a window). */
  val MinThreshold = 2

  /** Output generations: merged window w writes sst-(OutGenBase + w). */
  val OutGenBase = 960L

  private val ChkMod = 1000003L

  private def dayOfUs(tsUs: Long): Long = tsUs / 86400000000L

  /** The full TWCS decision, from sidecar metadata alone. */
  final case class Plan(
      windowOf: Map[String, Long],
      dropped: Seq[String], blocked: Seq[String],
      mergedWindows: Seq[(Long, Seq[String])], singles: Seq[String])

  /** Decide every branch off the q178 metadata (O(#files), no scan). */
  def plan(path: String, gcBeforeS: Long): Plan = {
    val metas = ExpiredBlockers.metadata(path)
    val candidates = metas.filter(_.maxLdtS < gcBeforeS)
    val live = metas.filterNot(_.maxLdtS < gcBeforeS)
    val (blockedC, droppedC) = candidates.partition(c =>
      live.exists(b => ExpiredBlockers.blocks(b, c)))
    val windowOf = metas.map(m =>
      m.sstableId -> dayOfUs(m.maxTsUs) / WindowDays).toMap
    val buckets = live.groupBy(m => windowOf(m.sstableId)).toSeq
      .sortBy(_._1)
    val (multi, single) = buckets.partition(_._2.size >= MinThreshold)
    Plan(windowOf,
      droppedC.map(_.sstableId).sorted, blockedC.map(_.sstableId).sorted,
      multi.map { case (w, ms) => (w, ms.map(_.sstableId).sorted) },
      single.flatMap(_._2.map(_.sstableId)).sorted)
  }

  private val memo = new SessionMemo[String]

  private def inputEvents(spark: SparkSession, inPath: String): DataFrame =
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))

  /** Merge each ≥2-member live window into one real sstable; returns
    * the output dir (session-memoized). Dropped files are not scanned;
    * blocked and single-window files pass through untouched. */
  def ensureCompacted(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    memo(spark, s"$dir|twcs|$gcBeforeS")(build(spark, dir, gcBeforeS))

  private def build(spark: SparkSession, dir: String,
      gcBeforeS: Long): String = {
    val inPath = CassandraDataFixture.ensureTwcsExecFiles(spark, dir)
    val p = plan(inPath, gcBeforeS)
    require(p.mergedWindows.nonEmpty,
      s"no ≥$MinThreshold-member live window under $dir")
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-twcs-compaction"))
      .toString
    val memberWindow = p.mergedWindows
      .flatMap { case (w, ids) => ids.map(_ -> w) }
    val ev = inputEvents(spark, inPath)
    import spark.implicits._
    val windowDf = memberWindow.toDF("sstable_id", "win")
    // one LWW merge per window (q162's combine-enabled aggregate with
    // the window prefixed to the merge key — windows never cross-merge)
    val winners = ev.join(broadcast(windowDf), "sstable_id")
      .groupBy("win", "key", "clustering", "column_name")
      .agg(max(struct(
        col("timestamp_us"), col("sstable_id"), col("size_bytes"),
        col("is_tombstone"), col("local_deletion_time_s"), col("ttl_s"),
        col("is_expiring"), col("kind"))).as("w"))
    // the conservative guard, per window: everything not in THIS
    // window's merge (older windows, singles, the BLOCKED expired
    // files still on disk) is outside. With the fixture's droppable
    // tombstones confined to the expired files the candidate set is
    // empty and no exchange runs — the guard is consulted, not skipped.
    val groupOf = memberWindow.map { case (id, w) => (id, w.toInt) }.toMap
    val guards = PurgeGuard.load(inPath,
      id => groupOf.getOrElse(id, PurgeGuard.Passthrough))
    val blockedKeys = PurgeGuard.blockedKeys(spark, guards, ev, winners,
      col("win"), gcBeforeS)
    val kept = winners
      .join(broadcast(blockedKeys),
        col("win") === col("grp") && col("key") === col("gkey"), "left")
      .drop("grp", "gkey")
      .where(!(col("w.is_tombstone") &&
        col("w.local_deletion_time_s") < gcBeforeS) ||
        coalesce(col("in_guard"), lit(false)))
    kept.select(
        concat(lit("sst-"), (lit(OutGenBase) + col("win")).cast("string"))
          .as("sstable_id"),
        col("key"), col("clustering"), col("column_name"),
        col("w.kind").as("kind"),
        col("w.timestamp_us").as("timestamp_us"),
        col("w.ttl_s").as("ttl_s"),
        col("w.local_deletion_time_s").as("local_deletion_time_s"),
        col("w.is_tombstone").as("is_tombstone"),
        col("w.is_expiring").as("is_expiring"),
        col("w.size_bytes").as("size_bytes"))
      .write.format("sstable-data")
      .option("path", out).option("compressed", "true")
      .mode("append").save()
    out
  }

  private def rollup(unit: org.apache.spark.sql.Column,
      action: org.apache.spark.sql.Column,
      window: org.apache.spark.sql.Column,
      sstablesIn: org.apache.spark.sql.Column, df: DataFrame): DataFrame =
    // `win`, not `window`: WINDOW is reserved in the oracle's dialect
    df.groupBy(unit.as("unit"), action.as("action"), window.as("win"))
      .agg(
        max(sstablesIn).as("sstables_in"),
        count(lit(1)).as("events"),
        sum(when(col("kind") === "CELL", 1L).otherwise(0L)).as("cells"),
        sum(when(col("kind") === "RANGE_TOMBSTONE_MARKER", 1L)
          .otherwise(0L)).as("markers"),
        countDistinct("key").as("partitions"),
        sum(col("key") % ChkMod).as("keys_sum"),
        sum(col("clustering") % ChkMod).as("clustering_sum"),
        sum(col("timestamp_us") % ChkMod).as("ts_sum"),
        sum(col("ttl_s") % ChkMod).as("ttl_sum"),
        sum(col("local_deletion_time_s") % ChkMod).as("ldt_sum"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"),
        sum(when(col("is_expiring"), 1L).otherwise(0L)).as("expiring"),
        sum(col("size_bytes") % ChkMod).as("value_sum"))

  /** Per-sstable decision table over an arbitrary TWCS state —
    * O(#files) sidecar reads, shared by the q190 what-if and the q191
    * re-ingestion check. One row per sstable: its window, expiry,
    * blocker count, and the action the next cycle would take. */
  private def decisionRows(path: String, gcBeforeS: Long)
      : Seq[(String, Long, Boolean, Long, String)] = {
    val metas = ExpiredBlockers.metadata(path)
    val p = plan(path, gcBeforeS)
    val live = metas.filterNot(_.maxLdtS < gcBeforeS)
    val mergeMembers = p.mergedWindows.flatMap(_._2).toSet
    metas.sortBy(_.sstableId).map { m =>
      val expired = m.maxLdtS < gcBeforeS
      val blockers =
        if (!expired) 0L
        else live.count(b => ExpiredBlockers.blocks(b, m)).toLong
      val action =
        if (p.dropped.contains(m.sstableId)) "drop"
        else if (p.blocked.contains(m.sstableId)) "blocked"
        else if (mergeMembers.contains(m.sstableId)) "compact"
        else "passthrough"
      (m.sstableId, p.windowOf(m.sstableId), expired, blockers, action)
    }
  }

  /** q190: the TWCS WHAT-IF planner (the read-only report a TWCS
    * operator reads before the next cycle — q146/q185's time-window
    * twin): one row per sstable with its window, expiry verdict,
    * blocker count and the action the executed cycle would take.
    * Entirely sidecar metadata — the planning half of q188 without
    * running anything. */
  def whatIf(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val inPath = CassandraDataFixture.ensureTwcsExecFiles(spark, dir)
    import spark.implicits._
    decisionRows(inPath, gcBeforeS)
      .toDF("sstable_id", "win", "expired", "blockers", "action")
      .orderBy("sstable_id")
  }

  private val reingestMemo = new SessionMemo[String]

  /** Assemble the POST-compaction on-disk state: merged window outputs
    * + passthrough originals + the blocked survivor; the dropped file
    * is GONE. Session-memoized. */
  def ensureReingestState(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    reingestMemo(spark, s"$dir|twcsre|$gcBeforeS") {
      val inPath = CassandraDataFixture.ensureTwcsExecFiles(spark, dir)
      val outPath = ensureCompacted(spark, dir, gcBeforeS)
      val p = plan(inPath, gcBeforeS)
      val keepGens = (p.singles ++ p.blocked)
        .map(id => s"nb-${id.stripPrefix("sst-").toLong + 1}-big")
        .toSet
      val state = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-twcs-reingest"))
      def copyAll(from: String, keep: String => Boolean): Unit =
        Option(new java.io.File(from).listFiles())
          .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
          .filter(f => keep(f.getName)).foreach { f =>
            java.nio.file.Files.copy(f.toPath,
              state.resolve(f.getName))
            ()
          }
      copyAll(outPath, _ => true)
      copyAll(inPath, n => keepGens.exists(n.startsWith))
      state.toString
    }

  /** q191: TWCS RE-INGESTION (q186/q175's time-window twin) — the
    * compacted state re-enters the strategy's own decision table off
    * its REAL files and is STABLE: every live window now holds one
    * sstable (nothing left to merge — TWCS's steady state, the
    * property that makes it O(1) rewrites per datum), the dropped file
    * is gone, and the blocked candidate is STILL blocked (its
    * tombstones keep shadowing until the overlapping older live data
    * ages out). One row per surviving sstable with its re-derived
    * window, expiry, blockers and next action. */
  def reingestTable(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val state = ensureReingestState(spark, dir, gcBeforeS)
    import spark.implicits._
    decisionRows(state, gcBeforeS)
      .toDF("sstable_id", "win", "expired", "blockers", "action")
      .orderBy("sstable_id")
  }

  /** q188: the full TWCS relation — one row per unit: merged windows
    * read back from the REAL sstable the compaction wrote, passthrough
    * (single-window) files from the untouched originals, the BLOCKED
    * expired file from its surviving original, and the DROPPED file's
    * row reporting the reclaimed volume (its events re-read only for
    * the report — the operator itself never scanned them). */
  def roundtrip(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val inPath = CassandraDataFixture.ensureTwcsExecFiles(spark, dir)
    val outPath = ensureCompacted(spark, dir, gcBeforeS)
    val p = plan(inPath, gcBeforeS)
    import spark.implicits._
    val winSizes = p.mergedWindows
      .map { case (w, ids) => (w, ids.size.toLong) }
      .toDF("win", "sstables_in")
    val merged = DataDb.cells(spark, outPath,
        format = DataDbScan.FormatCassandra)
      .withColumn("win",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
      .join(broadcast(winSizes), "win")
    // ONE scan covers every original-file unit: the per-sstable action
    // (passthrough / blocked / dropped) is a broadcast O(#files) table,
    // and the rollup groups by (unit, action) — three separate
    // action-filtered scans would read the same files three times
    val actionTable = (p.singles.map((_, "passthrough")) ++
        p.blocked.map((_, "blocked")) ++ p.dropped.map((_, "dropped")))
      .map { case (id, a) => (id, a, p.windowOf(id)) }
      .toDF("sstable_id", "act", "swin")
    val originals = inputEvents(spark, inPath)
      .join(broadcast(actionTable), "sstable_id")
    rollup(concat(lit("window-"), col("win").cast("string")),
        lit("compacted"), col("win"), col("sstables_in"), merged)
      .unionByName(rollup(col("sstable_id"), col("act"), col("swin"),
        lit(1L), originals))
      .orderBy("unit")
  }
}
