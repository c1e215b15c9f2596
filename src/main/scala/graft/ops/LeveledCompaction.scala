package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** LEVELED compaction (Cassandra LCS), executed end to end (round 13) —
  * the second compaction-selection strategy beside q171's size-tiered
  * one, and its semantic COUNTERPART on purge:
  *
  *  - **Layout**: level 0 holds freshly-flushed sstables that may
  *    overlap anything; level 1+ holds runs of NON-OVERLAPPING key
  *    ranges. The level is read from each sstable's own Statistics.db
  *    (where real LCS persists it) and the key ranges from each
  *    Summary.db's first/last-key tail — driver-side O(#files) sidecar
  *    parses, no scan.
  *  - **Selection**: compact ALL of L0 together with exactly the L1
  *    sstables whose [first_key, last_key] range INTERSECTS the L0
  *    span (Cassandra `LeveledCompactionStrategy.getCandidatesFor`);
  *    disjoint L1 sstables pass through untouched.
  *  - **Purge**: the same conservative guard as q171 — a droppable
  *    tombstone survives only if a non-participating sstable holds its
  *    key — but here leveled RANGE-DISJOINTNESS makes the guard
  *    provably empty (non-participants hold disjoint key ranges), so
  *    every droppable tombstone purges. That contrast IS the point of
  *    LCS: because a level's ranges partition the key space, a leveled
  *    compaction owns every copy of the keys it touches and can purge
  *    aggressively where size-tiered compaction must retain. The spec
  *    asserts both the emptiness and the purging.
  *  - **Output**: survivors are re-partitioned by the REPLACED L1
  *    partners' range boundaries — the merged data lands back in L1 as
  *    the same number of non-overlapping ranges, written as real
  *    compressed sstables through the sink and re-read for the rollup.
  *
  * Scale shape: selection is O(#files) sidecar metadata; the merge is
  * one combine-enabled LWW exchange over the participating events; the
  * output boundary assignment is a bounded CASE over partner ranges
  * (driver-built; #partners ≈ 10 in real LCS). The q172 oracle replays
  * layout, selection, merge, purge and the boundary re-partition from
  * parquet. */
object LeveledCompaction {

  /** Output generations for the rewritten L1 ranges start here. */
  val OutGenBase = 910L

  private val ChkMod = 1000003L

  final case class SstMeta(gen: Long, sstableId: String, level: Int,
      firstKey: Long, lastKey: Long)

  /** Driver-side sidecar metadata: level from Statistics.db, key range
    * from Summary.db's first/last tail — O(#files), no scan. */
  def metadata(inPath: String): Seq[SstMeta] = {
    val d = new java.io.File(inPath)
    val bases = Option(d.listFiles((_, n) => n.endsWith("-Data.db")))
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName.stripSuffix("-Data.db")).sorted.toSeq
    require(bases.nonEmpty, s"no sstables under $inPath")
    bases.map { base =>
      val gen = base.split("-")(1).toLong
      val stats = graft.sources.statsdb.CassandraStatsFormat.parse(
        java.nio.file.Files.readAllBytes(
          new java.io.File(d, base + "-Statistics.db").toPath)).stats
      val summary = graft.sources.summarydb.SummaryDbFormat.parse(
        new java.io.DataInputStream(new java.io.BufferedInputStream(
          new java.io.FileInputStream(
            new java.io.File(d, base + "-Summary.db")))))
      def be(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b).getLong
      SstMeta(gen, s"sst-${gen - 1}", stats.level,
        be(summary.firstKey), be(summary.lastKey))
    }
  }

  /** The L0 span and its overlapping L1 partners, from sidecars alone. */
  def selection(inPath: String): (Seq[SstMeta], Seq[SstMeta], Seq[SstMeta]) = {
    val meta = metadata(inPath)
    val l0 = meta.filter(_.level == 0)
    require(l0.nonEmpty, s"no L0 sstables under $inPath")
    val l0Min = l0.map(_.firstKey).min
    val l0Max = l0.map(_.lastKey).max
    val (partners, passthrough) = meta.filter(_.level == 1)
      .partition(m => m.firstKey <= l0Max && m.lastKey >= l0Min)
    require(partners.nonEmpty, s"no overlapping L1 partners under $inPath")
    (l0, partners.sortBy(_.firstKey), passthrough)
  }

  private val memo = new SessionMemo[String]

  def ensureCompacted(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    memo(spark, s"$dir|lcs|$gcBeforeS")(build(spark, dir, gcBeforeS))

  // light-row-work scans (the per-unit rollup sums): fixed split cap —
  // see DataDbScan.LightRowWorkSplit. Also feeds the session-memoized
  // build's merge input (one-time work; the rollup windows are what the
  // bench times).
  private def inputEvents(spark: SparkSession, inPath: String): DataFrame =
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra,
      maxSplitBytes = DataDbScan.LightRowWorkSplit)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))

  /** Bounded CASE assigning a key to the index of the partner range it
    * replaces (partners sorted by firstKey; keys past every boundary
    * clamp to the last — merged keys lie inside the partner ranges by
    * construction, the clamp is belt-and-braces). */
  private def outIndex(partners: Seq[SstMeta], key: Column): Column =
    partners.zipWithIndex.init.foldRight(
      lit(partners.length - 1L): Column) { case ((p, i), rest) =>
      when(key <= p.lastKey, i.toLong).otherwise(rest)
    }

  private def build(spark: SparkSession, dir: String,
      gcBeforeS: Long): String =
    buildFrom(spark, CassandraDataFixture.ensureLeveledFiles(spark, dir),
      gcBeforeS, OutGenBase)

  /** One LCS round over an arbitrary leveled input set: sidecar-driven
    * selection, LWW merge, metadata-decided purge guard, outputs
    * re-partitioned on the replaced partners' boundaries and written at
    * LEVEL 1 with generations from `outGenBase`. */
  private def buildFrom(spark: SparkSession, inPath: String,
      gcBeforeS: Long, outGenBase: Long): String = {
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-leveled-compaction"))
      .toString
    val (l0, partners, passthrough) = selection(inPath)
    val participatingIds = (l0 ++ partners).map(_.sstableId)
    val ev = inputEvents(spark, inPath)
    val participating = ev.where(col("sstable_id")
      .isin(participatingIds: _*))
    // one LWW merge across L0 + partners (they compact TOGETHER)
    val winners = participating
      .groupBy("key", "clustering", "column_name")
      .agg(max(struct(
        col("timestamp_us"), col("sstable_id"), col("size_bytes"),
        col("is_tombstone"), col("local_deletion_time_s"), col("ttl_s"),
        col("is_expiring"), col("kind"))).as("w"))
    // the conservative guard, decided from SIDECAR METADATA (round 14):
    // when every passthrough sstable's Summary.db key range is disjoint
    // from every participant's — the LCS invariant, levels partition
    // the key space — the guard is PROVABLY empty with zero scan/join
    // work and droppable tombstones purge unconditionally. THAT
    // aggressive purge is the point of LCS; the round-13 form ran the
    // materialized key-set join anyway, a full exchange its own spec
    // proved empty. A layout that fails the proof (overlapping L0
    // leaking into the passthrough span) falls back to the exact
    // range+bloom+confirm guard shared with the minor compaction.
    val participatingSet = participatingIds.toSet
    val guards = PurgeGuard.load(inPath,
      id => if (participatingSet(id)) 0 else PurgeGuard.Passthrough)
    val kept =
      if (PurgeGuard.provablyEmpty(guards))
        winners.where(!(col("w.is_tombstone") &&
          col("w.local_deletion_time_s") < gcBeforeS))
      else {
        val blocked = PurgeGuard.blockedKeys(spark, guards, ev,
          winners.withColumn("cgroup", lit(0)), col("cgroup"), gcBeforeS)
        winners
          .join(broadcast(blocked.drop("grp")),
            col("key") === col("gkey"), "left")
          .drop("gkey")
          .where(!(col("w.is_tombstone") &&
            col("w.local_deletion_time_s") < gcBeforeS) ||
            coalesce(col("in_guard"), lit(false)))
      }
    // outputs are stamped LEVEL 1 in their own Statistics.db (round
    // 14): real LCS persists the level there, and [[selection]] of a
    // FUTURE round reads it back — an output left at L0 would be
    // re-selected as a fresh flush by the very strategy that wrote it
    // (q175 proves re-ingestion end to end)
    kept.select(
        concat(lit("sst-"),
          (lit(outGenBase) + outIndex(partners, col("key")))
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
      .option("level", "1")
      .mode("append").save()
    out
  }

  private def rollup(unit: Column, action: Column,
      df: DataFrame): DataFrame =
    df.groupBy(unit.as("unit"), action.as("action"))
      .agg(
        count(lit(1)).as("events"),
        sum(when(col("kind") === "CELL", 1L).otherwise(0L)).as("cells"),
        sum(when(col("kind") === "RANGE_TOMBSTONE_MARKER", 1L)
          .otherwise(0L)).as("markers"),
        countDistinct("key").as("partitions"),
        min("key").as("first_key"),
        max("key").as("last_key"),
        sum(col("key") % ChkMod).as("keys_sum"),
        sum(col("clustering") % ChkMod).as("clustering_sum"),
        sum(col("timestamp_us") % ChkMod).as("ts_sum"),
        sum(col("ttl_s") % ChkMod).as("ttl_sum"),
        sum(col("local_deletion_time_s") % ChkMod).as("ldt_sum"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"),
        sum(when(col("is_expiring"), 1L).otherwise(0L)).as("expiring"),
        sum(col("size_bytes") % ChkMod).as("value_sum"))

  /** Generation base of the SECOND LCS round's outputs (q175). */
  val OutGenBase2 = 920L

  /** sst ids of the second round's fresh L0 flushes start here
    * (sst-6/sst-7 → generations 7/8). */
  val NewFlushBase = 6L

  /** Timestamp shift of the second-round writes: the same hot keys
    * written again later — EVEN, so the flush split by timestamp parity
    * is preserved and SQL-replayable. */
  val RewriteTsShiftUs = 1000000000L

  /** The SECOND ROUND's input set (q175): the first round's outputs —
    * read back as L1 purely from their OWN Statistics.db stamps — plus
    * the untouched passthrough L1 sstables plus two FRESH L0 flushes
    * (the original L0's events re-written [[RewriteTsShiftUs]] later:
    * the same hot keys, a newer generation of values). Assembled under
    * a session-memoized dir; file copies for the carried sets, a real
    * sink write for the new flushes. */
  def ensureSecondRoundInput(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    memo(spark, s"$dir|lcs2in|$gcBeforeS")(
      buildSecondRoundInput(spark, dir, gcBeforeS))

  private def buildSecondRoundInput(spark: SparkSession, dir: String,
      gcBeforeS: Long): String = {
    val inPath = CassandraDataFixture.ensureLeveledFiles(spark, dir)
    val out1 = ensureCompacted(spark, dir, gcBeforeS)
    val (_, _, passthrough) = selection(inPath)
    val dir2 = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-leveled-round2"))
    // carry the round-1 outputs (their OWN stats say level=1 — that
    // stamp is what the second selection reads) and the untouched
    // passthrough families, byte-identical
    def copyAll(from: String, keep: String => Boolean): Unit =
      Option(new java.io.File(from).listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
        .filter(f => keep(f.getName)).foreach { f =>
          java.nio.file.Files.copy(f.toPath, dir2.resolve(f.getName))
          ()
        }
    copyAll(out1, _ => true)
    val passGens = passthrough.map(m => s"nb-${m.gen}-big").toSet
    copyAll(inPath, n => passGens.exists(n.startsWith))
    // fresh L0: the original L0's events re-written RewriteTsShiftUs
    // later, split across two flushes by the (preserved) ts parity
    val l0Ids = metadata(inPath).filter(_.level == 0).map(_.sstableId)
    inputEvents(spark, inPath)
      .where(col("sstable_id").isin(l0Ids: _*))
      .withColumn("timestamp_us", col("timestamp_us") + RewriteTsShiftUs)
      .withColumn("sstable_id", concat(lit("sst-"),
        (lit(NewFlushBase) + pmod(col("timestamp_us"), lit(2L)))
          .cast("string")))
      .write.format("sstable-data")
      .option("path", dir2.toString).option("compressed", "true")
      .mode("append").save()
    dir2.toString
  }

  /** The second round's compaction output (level-1-stamped, generations
    * from [[OutGenBase2]]), session-memoized. */
  def ensureSecondCompacted(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    memo(spark, s"$dir|lcs2|$gcBeforeS")(
      buildFrom(spark,
        ensureSecondRoundInput(spark, dir, gcBeforeS), gcBeforeS,
        OutGenBase2))

  /** q175: LCS RE-INGESTION — the proof that the compaction's outputs
    * are first-class citizens of its own layout. Round 2 selects over
    * (round-1 outputs + fresh L0 + untouched passthrough) reading every
    * level from the files' own Statistics.db: the round-1 outputs
    * classify as L1, become the partners of the new L0 span, and merge
    * again; the rollup reads round-2's real written outputs (unit
    * `L1-new2-<i>`) and the twice-passed-through originals. A round-1
    * output left at L0 (the round-13 behavior) would land in the L0
    * span instead and the partner set — and this relation — would come
    * out wrong. */
  def roundtrip2(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val in2 = ensureSecondRoundInput(spark, dir, gcBeforeS)
    val out2 = ensureSecondCompacted(spark, dir, gcBeforeS)
    val (_, partners, passthrough) = selection(in2)
    require(partners.forall(_.gen > OutGenBase),
      s"round-2 partners must be round-1 outputs, got $partners")
    val merged = DataDb.cells(spark, out2,
        format = DataDbScan.FormatCassandra,
        maxSplitBytes = DataDbScan.LightRowWorkSplit)
      .withColumn("oidx",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase2)
    val pass = inputEvents(spark, in2)
      .where(col("sstable_id").isin(passthrough.map(_.sstableId): _*))
    rollup(concat(lit("L1-new2-"), col("oidx").cast("string")),
        lit("compacted"), merged)
      .unionByName(rollup(col("sstable_id"), lit("passthrough"), pass))
      .orderBy("unit")
  }

  /** q172: merged L1 replacements read back from the real written
    * sstables (unit `L1-new-<i>`), disjoint L1 sstables passed through
    * (unit `sst-<n>`); first/last key per unit pin the range
    * re-partition. */
  def roundtrip(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val inPath = CassandraDataFixture.ensureLeveledFiles(spark, dir)
    val outPath = ensureCompacted(spark, dir, gcBeforeS)
    val (_, _, passthrough) = selection(inPath)
    val merged = DataDb.cells(spark, outPath,
        format = DataDbScan.FormatCassandra,
        maxSplitBytes = DataDbScan.LightRowWorkSplit)
      .withColumn("oidx",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
    val pass = inputEvents(spark, inPath)
      .where(col("sstable_id").isin(passthrough.map(_.sstableId): _*))
    rollup(concat(lit("L1-new-"), col("oidx").cast("string")),
        lit("compacted"), merged)
      .unionByName(rollup(col("sstable_id"), lit("passthrough"), pass))
      .orderBy("unit")
  }
}
