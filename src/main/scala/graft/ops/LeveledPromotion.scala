package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** MULTI-LEVEL LCS (round 14) — the promotion machinery that closes the
  * "single-step L0→L1 only" gap: a LEVEL-PARAMETERIZED compaction kernel
  * (victim at level n + its overlapping level-(n+1) partners → outputs
  * at level n+1) run as a 4-step chain over real files whose every level
  * stamp is read back from the files' own Statistics.db:
  *
  *  1. **P1 — seed L2**: the lowest-first-key L1 sstable promotes; with
  *     L2 empty there are no partners, so the (purged) victim splits
  *     into 2 byte-balanced L2 halves (real LCS splits oversized
  *     outputs the same way).
  *  2. **F — fresh flush**: the same hot keys get written again
  *     ([[RewriteShiftUs]] later, deletes included) — one new L0.
  *  3. **R2 — L0 into an empty L1 range**: the flush's range has no L1
  *     partner left (its old owner moved to L2), so the round emits one
  *     L1 sstable — and its droppable tombstones are RETAINED, because
  *     the guard's range+bloom prefilter finds the L2 halves below
  *     holding every key (the conservative rule crossing LEVELS now,
  *     not tiers).
  *  4. **P2 — the genuine L1→L2 merge**: the new L1's range overlaps
  *     BOTH L2 halves (its boundaries were redrawn by R2, the halves'
  *     by P1 — exactly how real leveled trees come to disagree), so the
  *     promotion merges 3 sstables, re-partitions on the replaced
  *     halves' boundaries, and — with nothing below L2 — finally PURGES
  *     the tombstones it retained at R2. A tombstone's full Cassandra
  *     lifecycle: ride the levels down, drop at the bottom.
  *
  * q183's relation is the FINAL state (every surviving sstable's
  * level-stamped rollup off the real bytes); the oracle replays the
  * entire chain from parquet. Scale shape: every step is O(#files)
  * sidecar selection + one combine-enabled LWW exchange over the
  * participating events only; state assembly is file manifests. */
object LeveledPromotion {

  /** Timestamp shift of the fresh flush (even, parity-preserving;
    * distinct from q175's 1e9). */
  val RewriteShiftUs = 2000000000L

  /** Output generations: P1's L2 halves, the flush, R2's L1, P2's L2. */
  val P1GenBase = 950L
  val FlushGen = 961L
  val R2Gen = 971L
  val P2GenBase = 980L

  private val ChkMod = 1000003L

  /** The chain's materialized artifacts: intermediates exposed so the
    * spec can pin the R2 tombstone RETENTION on the real bytes (the
    * final state alone cannot distinguish it — a tombstone retained at
    * R2 and purged at P2 is as absent as one wrongly purged at R2). */
  final case class Chain(p1Out: String, flushDir: String, r2Out: String,
      finalDir: String)

  private val memo = new SessionMemo[Chain]

  private def scanOf(spark: SparkSession, p: String): DataFrame =
    DataDb.cells(spark, p, format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))

  private def copyInto(dir: java.nio.file.Path, from: String,
      keep: String => Boolean): Unit =
    Option(new java.io.File(from).listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
      .filter(f => keep(f.getName)).foreach { f =>
        java.nio.file.Files.copy(f.toPath, dir.resolve(f.getName))
        ()
      }

  /** The event-field select list every written relation shares. */
  private def outSelect(id: Column): Seq[Column] = Seq(
    id.as("sstable_id"),
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("is_tombstone"), col("is_expiring"), col("size_bytes"))

  private def writeOut(df: DataFrame, out: String, level: Int): Unit =
    df.write.format("sstable-data")
      .option("path", out).option("compressed", "true")
      .option("level", level.toString)
      .mode("append").save()

  /** One LEVEL-PARAMETERIZED promotion over the state under `inPath`:
    * victim = lowest-first-key sstable at `level`; partners = level+1
    * sstables overlapping its range; LWW merge; the PurgeGuard decides
    * retention against everything OUTSIDE the compaction (all other
    * levels included); outputs land at level+1 — re-partitioned on the
    * replaced partners' boundaries, or split into 2 byte-balanced
    * halves when the target level was empty there. Returns the output
    * dir and the participating ids. */
  def promote(spark: SparkSession, inPath: String, level: Int,
      outGenBase: Long, gcBeforeS: Long,
      emptyTargetShards: Int = 2): (String, Seq[String]) = {
    val meta = LeveledCompaction.metadata(inPath)
    val atLevel = meta.filter(_.level == level)
    require(atLevel.nonEmpty, s"no level-$level sstables under $inPath")
    val victim = atLevel.minBy(m => (m.firstKey, m.sstableId))
    val partners = meta.filter(_.level == level + 1)
      .filter(m => m.firstKey <= victim.lastKey &&
        m.lastKey >= victim.firstKey)
      .sortBy(_.firstKey)
    val participating = victim +: partners
    val participatingIds = participating.map(_.sstableId)
    val ev = scanOf(spark, inPath)
    val winners = ev
      .where(col("sstable_id").isin(participatingIds: _*))
      .groupBy("key", "clustering", "column_name")
      .agg(max(struct(
        col("timestamp_us"), col("sstable_id"), col("size_bytes"),
        col("is_tombstone"), col("local_deletion_time_s"), col("ttl_s"),
        col("is_expiring"), col("kind"))).as("w"))
    val pSet = participatingIds.toSet
    val guards = PurgeGuard.load(inPath,
      id => if (pSet(id)) 0 else PurgeGuard.Passthrough)
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
    val flat = kept.select((Seq(col("key"), col("clustering"),
      col("column_name"), col("w.kind").as("kind"),
      col("w.timestamp_us").as("timestamp_us"),
      col("w.ttl_s").as("ttl_s"),
      col("w.local_deletion_time_s").as("local_deletion_time_s"),
      col("w.is_tombstone").as("is_tombstone"),
      col("w.is_expiring").as("is_expiring"),
      col("w.size_bytes").as("size_bytes"))): _*)
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-lcs-promotion"))
      .toString
    if (partners.nonEmpty) {
      // re-partition on the replaced partners' boundaries (q172's rule)
      val idx = partners.zipWithIndex.init.foldRight(
        lit(partners.length - 1L): Column) { case ((p, i), rest) =>
        when(col("key") <= p.lastKey, i.toLong).otherwise(rest)
      }
      writeOut(flat.select(outSelect(concat(lit("sst-"),
        (lit(outGenBase) + idx).cast("string"))): _*), out, level + 1)
    } else if (emptyTargetShards <= 1) {
      // empty target range, single output — the flush-into-empty-L1 case
      writeOut(flat.select(
        outSelect(lit(s"sst-$outGenBase")): _*), out, level + 1)
    } else {
      // empty target range: split the survivors into byte-balanced
      // shards — the q179 running-sum rule, in its TWO-LEVEL form
      // (round 15: the pmod(key,1) window here had the same single-
      // reducer shape the split tool shed; the shared shardAssignment
      // keeps even one promotion's partition list off a single task)
      val perPart = flat.groupBy("key")
        .agg(sum(lit(Compaction.EventOverheadBytes) + col("size_bytes"))
          .as("pb"))
      val total = perPart.agg(sum("pb")).head.getLong(0)
      val halves = SstableSplit.shardAssignment(perPart, total,
        shards = emptyTargetShards)
      writeOut(flat.join(broadcast(halves), "key")
        .select(outSelect(concat(lit("sst-"),
          (lit(outGenBase) + col("shard")).cast("string"))): _*),
        out, level + 1)
    }
    (out, participatingIds)
  }

  /** The chain's four states + the final dir, session-memoized. */
  def ensureChain(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): Chain =
    memo(spark, s"$dir|lcs-multi|$gcBeforeS")(build(spark, dir, gcBeforeS))

  private def assemble(parts: (String, String => Boolean)*)
      : java.nio.file.Path = {
    val d = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-lcs-state"))
    parts.foreach { case (from, keep) => copyInto(d, from, keep) }
    d
  }

  private def gensOf(ids: Seq[String]): Set[String] =
    ids.map(id => s"nb-${id.stripPrefix("sst-").toLong + 1}-big").toSet

  private def build(spark: SparkSession, dir: String,
      gcBeforeS: Long): Chain = {
    val inPath = CassandraDataFixture.ensureLeveledFiles(spark, dir)
    val out1 = LeveledCompaction.ensureCompacted(spark, dir, gcBeforeS)
    val (_, _, passthrough) = LeveledCompaction.selection(inPath)
    val passGens = passthrough.map(m => s"nb-${m.gen}-big").toSet
    // S1: the post-round-1 L1 state — round-1 outputs + passthrough
    val s1 = assemble(
      (out1, (_: String) => true),
      (inPath, (n: String) => passGens.exists(n.startsWith)))
    // P1: seed L2 (victim = lowest-first-key L1; no partners → halves)
    val (p1Out, p1Ids) = promote(spark, s1.toString, 1, P1GenBase,
      gcBeforeS)
    require(p1Ids.size == 1, s"P1 must be partner-less, got $p1Ids")
    val victim1 = p1Ids.head
    // F: the same hot keys written again — the victim's ORIGINAL events
    // (deletes included) RewriteShiftUs later, one fresh L0 flush
    val flushDir = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-lcs-flush")).toString
    writeOut(scanOf(spark, inPath)
      .where(col("sstable_id") === victim1)
      .withColumn("timestamp_us", col("timestamp_us") + RewriteShiftUs)
      .select(outSelect(lit(s"sst-${FlushGen - 1}")): _*),
      flushDir, 0)
    // S2: state minus the promoted victim, plus its L2 halves + the
    // fresh flush
    val v1Gens = gensOf(Seq(victim1))
    val s2 = assemble(
      (s1.toString, (n: String) => !v1Gens.exists(n.startsWith)),
      (p1Out, (_: String) => true),
      (flushDir, (_: String) => true))
    // R2: the flush lands in L1 (its old owner moved down, so there is
    // no L1 partner) — tombstones RETAINED because L2 below holds every
    // key (the guard's confirm path, crossing levels)
    val (r2Out, r2Ids) = promote(spark, s2.toString, 0, R2Gen - 1L,
      gcBeforeS, emptyTargetShards = 1)
    require(r2Ids == Seq(s"sst-${FlushGen - 1}"),
      s"R2 must promote the flush alone, got $r2Ids")
    // S3: state minus the flush, plus R2's L1 sstable
    val fGens = gensOf(Seq(s"sst-${FlushGen - 1}"))
    val s3 = assemble(
      (s2.toString, (n: String) => !fGens.exists(n.startsWith)),
      (r2Out, (_: String) => true))
    // P2: the genuine L1→L2 merge — the new L1 overlaps BOTH halves
    val (p2Out, p2Ids) = promote(spark, s3.toString, 1, P2GenBase,
      gcBeforeS)
    require(p2Ids.size == 3, s"P2 must merge victim + 2 halves, got $p2Ids")
    // FINAL: state minus P2's participants, plus its outputs
    val p2Gens = gensOf(p2Ids)
    Chain(p1Out, flushDir, r2Out,
      assemble(
        (s3.toString, (n: String) => !p2Gens.exists(n.startsWith)),
        (p2Out, (_: String) => true)).toString)
  }

  /** Base level budget of the what-if ladder (level n's budget =
    * base × 10^(n−1), real LCS's geometric rule; 64 KiB so the fixture's
    * L1 overflows — a real deployment sets ~160 MB). */
  val BaseBudgetBytes = 64L << 10

  /** The geometric ladder: level n's budget is base × 10^(n−1) (level 0,
    * which real LCS sizes by sstable COUNT rather than bytes, floors at
    * the base budget). */
  def levelBudget(level: Long): Long = {
    var b = BaseBudgetBytes
    var n = math.max(0L, level - 1L)
    while (n > 0) { b *= 10L; n -= 1 }
    b
  }

  /** q185: the LCS WHAT-IF planner over the multi-level final state —
    * the report a leveled operator reads before the next promotion:
    * per-level population and modeled volume against the geometric
    * budget ladder, and the NEXT victim (lowest first key at the
    * deepest over-budget level — [[promote]]'s own selection rule, so
    * the planner names exactly the compaction that would run). Level
    * membership and victim ranges are O(#files) sidecar metadata; the
    * volume model is the q162 relational one so the oracle replays
    * every number. */
  def whatIf(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val finalDir = ensureChain(spark, dir, gcBeforeS).finalDir
    val meta = LeveledCompaction.metadata(finalDir)
    import spark.implicits._
    val levelDf = meta.map(m => (m.sstableId, m.level.toLong))
      .toDF("sstable_id", "level")
    val perLevel = scanOf(spark, finalDir)
      .join(broadcast(levelDf), "sstable_id")
      .groupBy("level")
      .agg(countDistinct("sstable_id").as("sstables"),
        sum(lit(Compaction.EventOverheadBytes) + col("size_bytes"))
          .as("model_bytes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val rows = perLevel.map { case (level, ssts, bytes) =>
      val budget = levelBudget(level)
      (level, ssts, bytes, budget, bytes > budget)
    }
    val deepest = rows.filter(_._5).map(_._1).maxOption
    val victimOf = meta.groupBy(_.level.toLong).view.mapValues(ms =>
      ms.minBy(m => (m.firstKey, m.sstableId)).sstableId).toMap
    rows.toSeq.map { case (level, ssts, bytes, budget, over) =>
      (level, ssts, bytes, budget, over,
        if (deepest.contains(level)) victimOf.get(level) else None)
    }.toDF("level", "sstables", "model_bytes", "budget_bytes",
      "over_budget", "next_victim")
      .orderBy("level")
  }

  /** q183: the final multi-level state — one level-stamped rollup row
    * per surviving real sstable. */
  def roundtrip(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val finalDir = ensureChain(spark, dir, gcBeforeS).finalDir
    val levels = LeveledCompaction.metadata(finalDir)
      .map(m => (m.sstableId, m.level.toLong))
    import spark.implicits._
    val levelDf = levels.toDF("sstable_id", "level")
    scanOf(spark, finalDir)
      .join(broadcast(levelDf), "sstable_id")
      .groupBy("sstable_id", "level")
      .agg(
        count(lit(1)).as("events"),
        sum(when(col("kind") === "CELL", 1L).otherwise(0L)).as("cells"),
        sum(when(col("kind") === "RANGE_TOMBSTONE_MARKER", 1L)
          .otherwise(0L)).as("markers"),
        countDistinct("key").as("partitions"),
        min("key").as("first_key"),
        max("key").as("last_key"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"),
        sum(when(col("is_tombstone") &&
          col("local_deletion_time_s") < gcBeforeS, 1L).otherwise(0L))
          .as("droppable_tombstones"),
        sum(col("key") % ChkMod).as("keys_sum"),
        sum(col("clustering") % ChkMod).as("clustering_sum"),
        sum(col("timestamp_us") % ChkMod).as("ts_sum"),
        sum(col("ttl_s") % ChkMod).as("ttl_sum"),
        sum(col("size_bytes") % ChkMod).as("value_sum"))
      .orderBy("sstable_id")
  }
}
