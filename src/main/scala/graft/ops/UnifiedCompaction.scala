package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** UNIFIED compaction (Cassandra 5's UnifiedCompactionStrategy, CEP-26),
  * executed end to end (round 16) — the strategy that subsumes STCS,
  * LCS and sharding under one model, completing the executed-strategy
  * family (q171 STCS, q172/q183 LCS, q188/q197 TWCS):
  *
  *  - **Density, not size.** Each sstable's level metric is its modeled
  *    bytes NORMALIZED by the fraction of the token ring it covers —
  *    `density = bytes · RingUnits / span_units` — so splitting a table
  *    into token shards leaves levels unchanged (UCS's core idea; a
  *    full-ring flush and a quarter-ring shard of the same byte size
  *    sit two levels apart at fan factor 4).
  *  - **Levels are density classes.** `level = floor(log_F(density/m))`
  *    with fan factor F = [[FanFactor]] and base m = total corpus
  *    bytes / [[BaseDivisor]] (the flush-size analog; adaptive so the
  *    split is scale-free — real UCS reads it from the flush size).
  *  - **Per-level regime.** Level 0 runs the TIERED rule (scaling
  *    parameter W = +2 ⇒ T4): ≥ [[Tiered0Threshold]] members merge.
  *    Levels ≥ 1 run the LEVELED rule (W = −2 ⇒ L4): members sort by
  *    token-span start and group into OVERLAP ISLANDS (a new island
  *    when a span starts past the running max end); an island of ≥ 2
  *    overlapping sstables merges, disjoint members are left alone —
  *    the LCS invariant expressed over token spans.
  *  - **Shard-aligned outputs.** Merge outputs split at the
  *    [[ShardCount]] FIXED equal-width ring boundaries (UCS's
  *    base_shard_count): a row lands in output shard
  *    `token div 2^58`, so no output ever crosses a shard boundary and
  *    later compactions stay shard-local — what keeps UCS compactions
  *    bounded at any corpus size.
  *
  * Executed, not simulated: each selected group runs the q162 LWW
  * aggregate with the group id prefixed to the merge key, droppable
  * winners pass the conservative [[PurgeGuard]] (everything outside
  * THIS group's merge guards them), and survivors write one real
  * compressed sstable per (group, shard), re-read through the
  * production scan for the q206 relation.
  *
  * Scale shape: level/selection decisions are O(#files) driver rows off
  * ONE narrow pruned aggregate (bytes + token-span per sstable — real
  * UCS keeps exactly these in sstable metadata; the 'nb' stats format
  * predates token-coverage fields, so they derive from the same scan
  * the size model already pays); the only data-touching work is one
  * combine-enabled merge exchange covering all selected groups at
  * once. Reference surfaces compaction metadata only (e.g.
  * sstable-metadata fields, SSTableMetadata.java:1); execution is this
  * repo's extension.
  */
object UnifiedCompaction {

  /** Fixed ring shards (base_shard_count): quarter boundaries at
    * multiples of 2^58 of the 2^60 token ring. */
  val ShardCount = 4

  /** Ring span is measured in 2^16 units of 2^44 tokens each. */
  val SpanUnitShift = 44

  /** Units in the full ring (2^60 >> 44). */
  val RingUnits: Long = 1L << (60 - SpanUnitShift)

  /** Fan factor F = 2 + |W| at W = ±2 — T4 tiered at level 0, L4
    * leveled above. */
  val FanFactor = 4

  /** Tiered-regime trigger at level 0 (T = F for W ≥ 0). */
  val Tiered0Threshold = 4

  /** m = max(1, totalBytes / BaseDivisor): the flush-size analog the
    * density ladder is anchored to. */
  val BaseDivisor = 32L

  /** Output generations: group g, shard s writes
    * sst-([[OutGenBase]] + g·[[ShardCount]] + s). */
  val OutGenBase = 1400L

  val MaxLevel = 20

  private val ChkMod = 1000003L

  /** floor(log_4(density / m)), floored at level 0. */
  def levelOf(density: Long, m: Long): Int = {
    val ratio = math.max(1L, density / math.max(1L, m))
    math.min(MaxLevel,
      (63 - java.lang.Long.numberOfLeadingZeros(ratio)) / 2)
  }

  /** One sstable's O(1) planning row. */
  final case class SstMeta(id: String, bytes: Long, minTok: Long,
      maxTok: Long, spanUnits: Long, density: Long, level: Int)

  /** The complete UCS decision: per-sstable metas, the base m, the
    * selected merge groups in (level, island-start) order, and the
    * passthrough set. */
  final case class Plan(m: Long, metas: Seq[SstMeta],
      merged: Seq[(Int, Seq[String])], passthrough: Seq[String])

  private def inputEvents(spark: SparkSession, inPath: String): DataFrame =
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))

  private val planMemo = new SessionMemo[Plan]

  /** Levels from one narrow pruned aggregate (bytes + token span per
    * sstable), selection entirely on the O(#files) driver rows.
    * Session-memoized (round 19, MinorCompaction.tierTable's
    * discipline): build, whatIf, reingest and roundtrip all consult it
    * and it is a pure function of the immutable input set, so the
    * density aggregate's job runs once per (session, input dir) instead
    * of once per q206/q210/q211 bench window. */
  def plan(spark: SparkSession, inPath: String): Plan =
    planMemo(spark, s"$inPath|ucs-plan")(computePlan(spark, inPath))

  private def computePlan(spark: SparkSession, inPath: String): Plan = {
    val agg = inputEvents(spark, inPath)
      .groupBy("sstable_id")
      .agg(
        sum(lit(Compaction.EventOverheadBytes) + col("size_bytes"))
          .as("bytes"),
        min(AntiEntropy.token(col("key"))).as("min_tok"),
        max(AntiEntropy.token(col("key"))).as("max_tok"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val m = math.max(1L, agg.map(_._2).sum / BaseDivisor)
    val metas = agg.map { case (id, bytes, mn, mx) =>
      val span = (mx >> SpanUnitShift) - (mn >> SpanUnitShift) + 1
      val density = bytes * RingUnits / span
      SstMeta(id, bytes, mn, mx, span, density, levelOf(density, m))
    }.toSeq
    // level 0: the tiered rule — all members merge when enough exist
    val l0 = metas.filter(_.level == 0).map(_.id).sorted
    val tiered =
      if (l0.size >= Tiered0Threshold) Seq((0, 0L, l0)) else Seq.empty
    // levels >= 1: the leveled rule — overlap islands over token spans
    val leveled = metas.filter(_.level >= 1).groupBy(_.level).toSeq
      .flatMap { case (lvl, members) =>
        val sorted = members.sortBy(s => (s.minTok, s.id))
        val islands = scala.collection.mutable.ArrayBuffer
          .empty[scala.collection.mutable.ArrayBuffer[SstMeta]]
        var runMax = Long.MinValue
        sorted.foreach { s =>
          if (islands.isEmpty || s.minTok > runMax)
            islands += scala.collection.mutable.ArrayBuffer(s)
          else islands.last += s
          runMax = math.max(runMax, s.maxTok)
        }
        islands.filter(_.size >= 2)
          .map(i => (lvl, i.head.minTok, i.map(_.id).sorted.toSeq))
      }
    val groups = (tiered ++ leveled).sortBy(g => (g._1, g._2))
      .map(g => (g._1, g._3))
    val inGroup = groups.flatMap(_._2).toSet
    Plan(m, metas, groups,
      metas.map(_.id).filterNot(inGroup).sorted)
  }

  /** The read-only decision table (`compact --ucs`): per sstable its
    * modeled bytes, covered token span, density, ladder ratio, level
    * and the action the strategy would take — what an operator reads
    * before letting UCS act. O(#files) driver rows. */
  def whatIf(spark: SparkSession, dir: String): DataFrame = {
    val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
    val p = plan(spark, inPath)
    val actionOf = p.merged.zipWithIndex.flatMap { case ((_, ids), g) =>
      ids.map(_ -> s"merge-g$g")
    }.toMap
    import spark.implicits._
    p.metas.map(s => (s.id, s.bytes, s.spanUnits, s.density,
        s.density / p.m, s.level,
        actionOf.getOrElse(s.id, "passthrough")))
      .toDF("sstable_id", "model_bytes", "span_units", "density",
        "ratio", "level", "action")
      .orderBy("sstable_id")
  }

  private val memo = new SessionMemo[String]

  /** Merge each selected group into shard-aligned real sstables;
    * returns the output dir (session-memoized). */
  def ensureCompacted(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    memo(spark, s"$dir|ucs|$gcBeforeS")(build(spark, dir, gcBeforeS))

  private def build(spark: SparkSession, dir: String,
      gcBeforeS: Long): String = {
    val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
    val p = plan(spark, inPath)
    require(p.merged.nonEmpty, s"no selected UCS group under $dir")
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-ucs")).toString
    val memberGroup = p.merged.zipWithIndex.flatMap {
      case ((_, ids), g) => ids.map(id => (id, g))
    }
    val ev = inputEvents(spark, inPath)
    import spark.implicits._
    val groupDf = memberGroup.toDF("sstable_id", "g")
    // one LWW merge covers every selected group: q162's combine-enabled
    // aggregate with the group id prefixed to the merge key — groups
    // never cross-merge, levels never cross-merge
    val winners = ev.join(broadcast(groupDf), "sstable_id")
      .groupBy("g", "key", "clustering", "column_name")
      .agg(max(struct(
        col("timestamp_us"), col("sstable_id"), col("size_bytes"),
        col("is_tombstone"), col("local_deletion_time_s"), col("ttl_s"),
        col("is_expiring"), col("kind"))).as("w"))
    val groupOf = memberGroup.toMap
    val guards = PurgeGuard.load(inPath,
      id => groupOf.getOrElse(id, PurgeGuard.Passthrough))
    val blockedKeys = PurgeGuard.blockedKeys(spark, guards, ev, winners,
      col("g"), gcBeforeS)
    val kept = winners
      .join(broadcast(blockedKeys),
        col("g") === col("grp") && col("key") === col("gkey"), "left")
      .drop("grp", "gkey")
      .where(!(col("w.is_tombstone") &&
        col("w.local_deletion_time_s") < gcBeforeS) ||
        coalesce(col("in_guard"), lit(false)))
    // shard-aligned outputs: a row's shard is its token's ring quarter,
    // so no output sstable ever crosses a fixed shard boundary
    val shard = shiftright(AntiEntropy.token(col("key")),
      60 - 2 /* log2(ShardCount) */)
    kept.select(
        concat(lit("sst-"), (lit(OutGenBase) +
          col("g").cast("long") * lit(ShardCount.toLong) + shard)
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

  private def rollup(unit: Column, action: Column, level: Column,
      shard: Column, sstablesIn: Column, df: DataFrame): DataFrame =
    df.groupBy(unit.as("unit"), action.as("action"), level.as("level"),
        shard.as("shard"))
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

  private val stateMemo = new SessionMemo[String]

  /** The post-compaction UCS state as one real directory: the merge
    * outputs plus the untouched passthrough originals (file manifest —
    * byte copies, no data work). Session-memoized. */
  def ensureReingestState(spark: SparkSession, dir: String): String =
    stateMemo(spark, s"$dir|ucsre")(buildState(spark, dir))

  private def buildState(spark: SparkSession, dir: String): String = {
    val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
    val outPath = ensureCompacted(spark, dir)
    val p = plan(spark, inPath)
    val state = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-ucs-state"))
    def copyAll(from: String, keep: String => Boolean): Unit =
      Option(new java.io.File(from).listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
        .filter(f => keep(f.getName)).foreach { f =>
          java.nio.file.Files.copy(f.toPath, state.resolve(f.getName))
          ()
        }
    copyAll(outPath, _ => true)
    val passGens = p.passthrough
      .map(id => id.stripPrefix("sst-").toLong + 1L).toSet
    copyAll(inPath, n =>
      n.split("-").lift(1).flatMap(_.toLongOption).exists(passGens))
    state.toString
  }

  /** q211: RE-INGESTION — the compacted state re-enters the strategy
    * off its REAL files and is STABLE: the level-0 merge's shard
    * outputs re-classify one level up (denser: same bytes over a
    * quarter of the ring) but stay quarter-disjoint, the island merge
    * joins the dense top level beside the originals it never overlaps,
    * and NO group selects — the bounded-write-amplification guarantee
    * UCS exists for, demonstrated on its own outputs. One row per
    * file: the re-derived density ladder and the (all-passthrough)
    * action. */
  def reingestTable(spark: SparkSession, dir: String): DataFrame = {
    val statePath = ensureReingestState(spark, dir)
    val p = plan(spark, statePath)
    val actionOf = p.merged.zipWithIndex.flatMap { case ((_, ids), g) =>
      ids.map(_ -> s"merge-g$g")
    }.toMap
    import spark.implicits._
    p.metas.map(s => (s.id, s.bytes, s.spanUnits, s.density,
        s.density / p.m, s.level,
        actionOf.getOrElse(s.id, "passthrough")))
      .toDF("unit", "model_bytes", "span_units", "density",
        "ratio", "level", "action")
      .orderBy("unit")
  }

  /** q206: the UCS relation — one row per unit: each merged group's
    * shard outputs read back from the REAL sstables the compaction
    * wrote (proving shard alignment: a unit's rows all carry its
    * shard's tokens), and each passthrough original (the disjoint
    * high-density sstables the leveled regime correctly leaves alone). */
  def roundtrip(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
    val outPath = ensureCompacted(spark, dir, gcBeforeS)
    val p = plan(spark, inPath)
    import spark.implicits._
    val groupTable = p.merged.zipWithIndex
      .map { case ((lvl, ids), g) => (g.toLong, lvl.toLong, ids.size.toLong) }
      .toDF("g", "level", "sstables_in")
    val merged = DataDb.cells(spark, outPath,
        format = DataDbScan.FormatCassandra)
      .withColumn("code",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
      .withColumn("g", expr(s"code div $ShardCount"))
      .withColumn("shard", col("code") % lit(ShardCount.toLong))
      .drop("code")
      .join(broadcast(groupTable), Seq("g"))
    val passTable = p.passthrough
      .map { id =>
        val meta = p.metas.find(_.id == id).get
        (id, meta.level.toLong)
      }
      .toDF("sstable_id", "plevel")
    val originals = inputEvents(spark, inPath)
      .join(broadcast(passTable), "sstable_id")
    rollup(concat(lit("cmp-"), col("g").cast("string"), lit("-s"),
          col("shard").cast("string")),
        lit("compacted"), col("level"), col("shard"), col("sstables_in"),
        merged)
      .unionByName(rollup(col("sstable_id"), lit("passthrough"),
        col("plevel"), lit(-1L), lit(1L), originals))
      .orderBy("unit")
  }
}
