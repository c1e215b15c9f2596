package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** TWCS with IN-WINDOW STCS composition, executed end to end (round 16,
  * VERDICT r15 ask #3) — the regime real Cassandra's
  * TimeWindowCompactionStrategy actually runs: sstables bucket by time
  * window first, then SIZE-TIERED bucketing applies INSIDE each window,
  * so a many-flush current window compacts tier-by-tier instead of
  * LWW-merging wholesale (q188's single-shot form). The repo already
  * owned both halves — [[TwcsCompaction]]'s sidecar window assignment
  * and [[MinorCompaction]]'s size ladder — this operator composes them:
  *
  *  - **Window assignment** — per sstable, `max-timestamp-day div
  *    [[TwcsCompaction.WindowDays]]` from its OWN Statistics.db
  *    (O(#files) sidecar metadata, zero data reads).
  *  - **In-window tiering** — per sstable, tier = bit-length(modeled
  *    bytes div [[InWindowTierBytes]]) — the q171 power-of-two ladder
  *    with a smaller unit so flush-sized files spread.
  *  - **Selection** — a (window, tier) group with ≥ [[MinThreshold]]
  *    members compacts into ONE sstable; every other sstable (single
  *    member in its window's tier, including a lone big flush sharing
  *    the window with mergeable small ones) passes through untouched.
  *    Windows never cross-merge; tiers never cross-merge.
  *
  * Executed, not simulated: each selected group runs the q162 LWW
  * aggregate with (window, tier) prefixed to the merge key, passes the
  * [[PurgeGuard]] with group = window·[[GroupSpan]]+tier (everything
  * outside THIS group's merge — other windows, other tiers, the big
  * flush — guards its droppable winners), and writes one real
  * compressed sstable per group, re-read through the production scan
  * for the q197 relation.
  *
  * Scale shape: window + tier decisions are O(#files) driver rows (one
  * sidecar read + one narrow pruned aggregate); the only data-touching
  * work is one combine-enabled merge exchange covering all selected
  * groups at once. */
object TwcsStcsCompaction {

  /** In-window tier unit (2 KiB — smaller than q171's 16 KiB so
    * flush-sized fixture files spread across tiers; a real deployment
    * sets its min_sstable_size analog). */
  val InWindowTierBytes = 2L << 10

  /** Minimum members of a (window, tier) group that trigger a merge. */
  val MinThreshold = 2

  /** Output generations: merged group (w, t) writes
    * sst-([[OutGenBase]] + w·[[GroupSpan]] + t). */
  val OutGenBase = 1200L

  /** Gen/group stride per window (tiers at fixture scale are ≤ 12). */
  val GroupSpan = 64L

  private val ChkMod = 1000003L

  private def dayOfUs(tsUs: Long): Long = tsUs / 86400000000L

  /** bit-length of (bytes div InWindowTierBytes), floored at 1. */
  def tierOf(modelBytes: Long): Int = {
    val x = math.max(1L, modelBytes / InWindowTierBytes)
    64 - java.lang.Long.numberOfLeadingZeros(x)
  }

  /** The composed decision: each sstable's window and tier, the
    * selected (window, tier) merge groups, and the passthrough set. */
  final case class Plan(
      windowOf: Map[String, Long], tierOf: Map[String, Int],
      merged: Seq[((Long, Int), Seq[String])], passthrough: Seq[String])

  private def inputEvents(spark: SparkSession, inPath: String): DataFrame =
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))

  private val planMemo = new SessionMemo[Plan]

  /** Windows from sidecar metadata, tiers from one narrow pruned
    * aggregate — O(#files) driver rows each. Session-memoized (round
    * 19, MinorCompaction.tierTable's discipline): build + roundtrip
    * both consult it and it is a pure function of the immutable input
    * set, so the tier aggregate's job runs once per session instead of
    * once per q197 bench window. */
  def plan(spark: SparkSession, inPath: String): Plan =
    planMemo(spark, s"$inPath|twcsstcs-plan")(computePlan(spark, inPath))

  private def computePlan(spark: SparkSession, inPath: String): Plan = {
    val metas = ExpiredBlockers.metadata(inPath)
    val windowOf = metas.map(m =>
      m.sstableId -> (dayOfUs(m.maxTsUs) / TwcsCompaction.WindowDays))
      .toMap
    val bytesOf = inputEvents(spark, inPath)
      .groupBy("sstable_id")
      .agg(sum(lit(Compaction.EventOverheadBytes) + col("size_bytes"))
        .as("bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val tiers = bytesOf.map { case (id, b) => id -> tierOf(b) }
    val groups = windowOf.keys.toSeq.sorted
      .groupBy(id => (windowOf(id), tiers(id))).toSeq
      .sortBy(_._1)
    val (multi, single) = groups.partition(_._2.size >= MinThreshold)
    Plan(windowOf, tiers,
      multi.map { case (g, ids) => (g, ids.sorted) },
      single.flatMap(_._2).sorted)
  }

  private val memo = new SessionMemo[String]

  /** Merge each selected (window, tier) group into one real sstable;
    * returns the output dir (session-memoized). */
  def ensureCompacted(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    memo(spark, s"$dir|twcsst|$gcBeforeS")(build(spark, dir, gcBeforeS))

  private def build(spark: SparkSession, dir: String,
      gcBeforeS: Long): String = {
    val inPath = CassandraDataFixture.ensureTwcsStcsFiles(spark, dir)
    val p = plan(spark, inPath)
    require(p.merged.nonEmpty,
      s"no ≥$MinThreshold-member (window, tier) group under $dir")
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-twcs-stcs"))
      .toString
    val memberGroup = p.merged.flatMap { case ((w, t), ids) =>
      ids.map(id => (id, w, t))
    }
    val ev = inputEvents(spark, inPath)
    import spark.implicits._
    val groupDf = memberGroup.toDF("sstable_id", "win", "tier")
    // one LWW merge covers every selected group: q162's combine-enabled
    // aggregate with (window, tier) prefixed to the merge key — groups
    // never cross-merge
    val winners = ev.join(broadcast(groupDf), "sstable_id")
      .groupBy("win", "tier", "key", "clustering", "column_name")
      .agg(max(struct(
        col("timestamp_us"), col("sstable_id"), col("size_bytes"),
        col("is_tombstone"), col("local_deletion_time_s"), col("ttl_s"),
        col("is_expiring"), col("kind"))).as("w"))
    // the conservative guard, per (window, tier) group: everything not
    // in THIS group's merge is outside (the fixture confines droppable
    // tombstones to the old single-member band, so the candidate set is
    // empty and no exchange runs — consulted, not skipped)
    val groupOf = memberGroup
      .map { case (id, w, t) => (id, (w * GroupSpan + t).toInt) }.toMap
    val guards = PurgeGuard.load(inPath,
      id => groupOf.getOrElse(id, PurgeGuard.Passthrough))
    val blockedKeys = PurgeGuard.blockedKeys(spark, guards, ev, winners,
      col("win") * lit(GroupSpan) + col("tier"), gcBeforeS)
    val kept = winners
      .join(broadcast(blockedKeys),
        col("win") * lit(GroupSpan) + col("tier") === col("grp") &&
          col("key") === col("gkey"), "left")
      .drop("grp", "gkey")
      .where(!(col("w.is_tombstone") &&
        col("w.local_deletion_time_s") < gcBeforeS) ||
        coalesce(col("in_guard"), lit(false)))
    kept.select(
        concat(lit("sst-"), (lit(OutGenBase) + col("win") * lit(GroupSpan)
          + col("tier")).cast("string")).as("sstable_id"),
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
      tier: org.apache.spark.sql.Column,
      sstablesIn: org.apache.spark.sql.Column, df: DataFrame): DataFrame =
    df.groupBy(unit.as("unit"), action.as("action"), window.as("win"),
        tier.as("tier"))
      .agg(
        max(sstablesIn).as("sstables_in"),
        count(lit(1)).as("events"),
        countDistinct("key").as("partitions"),
        sum(col("key") % ChkMod).as("keys_sum"),
        sum(col("clustering") % ChkMod).as("clustering_sum"),
        sum(col("timestamp_us") % ChkMod).as("ts_sum"),
        sum(col("ttl_s") % ChkMod).as("ttl_sum"),
        sum(col("local_deletion_time_s") % ChkMod).as("ldt_sum"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"),
        sum(when(col("is_expiring"), 1L).otherwise(0L)).as("expiring"),
        sum(col("size_bytes") % ChkMod).as("value_sum"))

  /** q197: the composed relation — one row per unit: each merged
    * (window, tier) group read back from the REAL sstable the
    * compaction wrote, and each passthrough original (single-member
    * window-tiers, INCLUDING the big flush that shares the newest
    * window with the merged small tier — the row that proves tiers
    * never cross-merge inside a window). */
  def roundtrip(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val inPath = CassandraDataFixture.ensureTwcsStcsFiles(spark, dir)
    val outPath = ensureCompacted(spark, dir, gcBeforeS)
    val p = plan(spark, inPath)
    import spark.implicits._
    val groupSizes = p.merged
      .map { case ((w, t), ids) => (w, t, ids.size.toLong) }
      .toDF("win", "tier", "sstables_in")
    val merged = DataDb.cells(spark, outPath,
        format = DataDbScan.FormatCassandra)
      .withColumn("code",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
      .withColumn("win", expr(s"code div $GroupSpan"))
      .withColumn("tier", col("code") % lit(GroupSpan))
      .drop("code")
      .join(broadcast(groupSizes), Seq("win", "tier"))
    val passTable = p.passthrough
      .map(id => (id, p.windowOf(id), p.tierOf(id).toLong))
      .toDF("sstable_id", "swin", "stier")
    val originals = inputEvents(spark, inPath)
      .join(broadcast(passTable), "sstable_id")
    rollup(concat(lit("win-"), col("win").cast("string"), lit("-tier-"),
          col("tier").cast("string")),
        lit("compacted"), col("win"), col("tier"), col("sstables_in"),
        merged)
      .unionByName(rollup(col("sstable_id"), lit("passthrough"),
        col("swin"), col("stier"), lit(1L), originals))
      .orderBy("unit")
  }
}
