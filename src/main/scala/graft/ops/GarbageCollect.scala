package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** `nodetool garbagecollect`, executed end to end (round 16) — the
  * SINGLE-SSTABLE compaction (CASSANDRA-7019): every sstable rewrites
  * ALONE, reclaiming what can be decided without merging files:
  *
  *  - **within-file shadowing**: of a (key, clustering, column)'s
  *    multiple events IN THE SAME FILE, only the newest survives (the
  *    same LWW rule as a merge, restricted to one file — cross-FILE
  *    duplicates are deliberately untouched, that is what makes the
  *    operation cheap and parallel per sstable);
  *  - **guarded tombstone purge**: a droppable tombstone winner
  *    (ldt < gcBefore) purges only if NO OTHER sstable may hold its
  *    partition key — each file is its own compaction group, so the
  *    guard consults every other file's Summary range + bloom
  *    ([[PurgeGuard]] with group = generation).
  *
  * Executed: one LWW exchange keyed by (file, key, clustering, column)
  * — files never cross-merge by construction of the key — the exact
  * guard, and one real rewritten sstable per input file, re-read for
  * the q216 relation beside each file's reclaim accounting.
  *
  * Scale shape: identical to a real fleet's — per-file work with
  * O(#files) metadata guards; the single exchange covers all files at
  * once and no data moves between them. */
object GarbageCollect {

  /** Rewritten generations: input gen g writes sst-([[OutGenBase]]+g). */
  val OutGenBase = 1800L

  private val ChkMod = 1000003L

  // light-row-work scans: fixed split cap, not the adaptive target —
  // see DataDbScan.LightRowWorkSplit
  private def inputEvents(spark: SparkSession, inPath: String): DataFrame =
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra,
      maxSplitBytes = DataDbScan.LightRowWorkSplit)
      .withColumn("gen",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long"))

  private val memo = new SessionMemo[String]

  /** Rewrite every sstable alone; returns the output dir
    * (session-memoized). */
  def ensureCollected(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    memo(spark, s"$dir|gc|$gcBeforeS")(build(spark, dir, gcBeforeS))

  private def kept(spark: SparkSession, inPath: String,
      gcBeforeS: Long): DataFrame = {
    val ev = inputEvents(spark, inPath)
    // within-file LWW: the file id rides the merge key, so files never
    // cross-merge — one exchange covers every file's own compaction
    val winners = ev
      .groupBy("gen", "key", "clustering", "column_name")
      .agg(max(struct(
        col("timestamp_us"), col("sstable_id"), col("size_bytes"),
        col("is_tombstone"), col("local_deletion_time_s"), col("ttl_s"),
        col("is_expiring"), col("kind"))).as("w"))
    // each file is its own group: the guard consults every OTHER file
    val guards = PurgeGuard.load(inPath,
      id => id.stripPrefix("sst-").toInt + 1)
    val evForGuard = ev.withColumn("sstable_id",
      concat(lit("sst-"), (col("gen") - 1L).cast("string")))
    val blockedKeys = PurgeGuard.blockedKeys(spark, guards, evForGuard,
      winners, col("gen"), gcBeforeS)
    winners
      .join(broadcast(blockedKeys),
        col("gen") === col("grp") && col("key") === col("gkey"), "left")
      .drop("grp", "gkey")
      .where(!(col("w.is_tombstone") &&
        col("w.local_deletion_time_s") < gcBeforeS) ||
        coalesce(col("in_guard"), lit(false)))
  }

  private def build(spark: SparkSession, dir: String,
      gcBeforeS: Long): String = {
    val inPath = CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true)
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-gc")).toString
    kept(spark, inPath, gcBeforeS).select(
        concat(lit("sst-"), (lit(OutGenBase) + col("gen"))
          .cast("string")).as("sstable_id"),
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

  /** q216: one row per input sstable — the ORIGINAL file's event and
    * droppable counts, the REWRITTEN file's rollup off the real bytes,
    * and the reclaim split (shadowed within-file duplicates vs purged
    * droppable winners vs guard-retained ones). */
  def roundtrip(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val inPath = CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true)
    val outPath = ensureCollected(spark, dir, gcBeforeS)
    // ONE scan of the input (round 20, guide §1.2): the per-gen event
    // and droppable counts distribute over the winners' (gen, key,
    // clustering, column_name) grouping — events_in = sum of per-cell
    // multiplicities, droppable_in = sum of per-cell droppable counts —
    // so the former separate `original` aggregate (a second full scan of
    // the same files) rides the winners pass. Same values: count(*) per
    // gen ≡ sum of per-group counts; the conditional sum is additive
    // over any partition of the rows.
    val originalAndWinners = inputEvents(spark, inPath)
      .groupBy("gen", "key", "clustering", "column_name")
      .agg(count(lit(1)).as("dups"),
        sum(when(col("is_tombstone") &&
          col("local_deletion_time_s") < gcBeforeS, 1L).otherwise(0L))
          .as("droppable"))
      .groupBy("gen")
      .agg(sum(col("dups")).as("events_in"),
        sum(col("droppable")).as("droppable_in"),
        count(lit(1)).as("winners"),
        sum(col("dups") - 1L).as("shadowed"))
    val rewritten = DataDb.cells(spark, outPath,
        format = DataDbScan.FormatCassandra,
        maxSplitBytes = DataDbScan.LightRowWorkSplit)
      .withColumn("gen",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
      .groupBy("gen")
      .agg(count(lit(1)).as("events_out"),
        countDistinct("key").as("partitions_out"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L))
          .as("tombstones_out"),
        sum(col("key") % ChkMod).as("keys_sum"),
        sum(col("timestamp_us") % ChkMod).as("ts_sum"),
        sum(col("size_bytes") % ChkMod).as("value_sum"))
    originalAndWinners
      .join(rewritten, Seq("gen"))
      .withColumn("purged", col("winners") - col("events_out"))
      .withColumn("unit",
        concat(lit("sst-"), (col("gen") - 1L).cast("string")))
      .drop("gen")
      .select("unit", "events_in", "droppable_in", "shadowed",
        "purged", "events_out", "partitions_out", "tombstones_out",
        "keys_sum", "ts_sum", "value_sum")
      .orderBy("unit")
  }
}
