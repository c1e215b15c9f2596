package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** SIZE-TIERED MINOR compaction, executed end to end (round 13) — the
  * compaction SELECTION problem the reference never touches and q162's
  * major compaction sidesteps: real Cassandra does not compact
  * everything at once; a strategy picks WHICH sstables merge (Cassandra
  * `SizeTieredCompactionStrategy`: bucket sstables by size similarity,
  * compact buckets with enough members) and everything else passes
  * through untouched.
  *
  * Semantics here, each half oracle-replayable from parquet:
  *
  *  - **Tiering**: per-sstable modeled volume (the q162 relational
  *    model, `32 B + value length` per event) → tier =
  *    bit-length(bytes div [[MinTierBytes]]) — a deterministic integer
  *    power-of-two size ladder (Cassandra's bucket-similarity grouping,
  *    made path-independent so SQL replays it exactly).
  *  - **Selection**: tiers with ≥ [[MinThreshold]] members compact —
  *    one LWW merge per tier over ONLY that tier's sstables; every
  *    other sstable passes through byte-untouched (its events re-read
  *    from the ORIGINAL file in the rollup).
  *  - **Conservative purge** — the rule that makes minor compaction
  *    correct: a droppable tombstone winner (ldt < gcBefore) may purge
  *    ONLY if NO sstable outside ITS OWN tier's compaction contains its
  *    partition key — otherwise the tombstone must survive to keep
  *    shadowing data the compaction cannot see. Each tier is a SEPARATE
  *    compaction, so "outside" means passthrough sstables AND the
  *    sstables of every OTHER selected tier (round 14, closing the
  *    round-13 gap where only never-selected sstables were consulted —
  *    Cassandra's rule checks all sstables not participating in THAT
  *    compaction). Major compaction (q162) has no such constraint —
  *    all sstables participate.
  *
  * Executed, not simulated: each selected tier's survivors are written
  * back as ONE real compressed sstable through the DSv2 sink and
  * re-read through the production scan for the rollup.
  *
  * Scale shape: tiering/selection is a per-SSTABLE decision —
  * O(#sstables) driver rows off one pruned aggregate (or the sidecar
  * sums, as q162's sidecar-sized variant) — while the merge is the same
  * single combine-enabled exchange as q162 with `tier` prefixed to the
  * merge key. The purge check is [[PurgeGuard]] (round 14): Summary.db
  * ranges + Filter.db blooms prefilter the droppable winners to a tiny
  * candidate set, then a broadcast join confirms presence exactly — no
  * exchange of the non-participant keys (the round-13 form materialized
  * and shuffled the full passthrough key set). A tier at 100 TB would
  * shard its output volume-adaptively like q162 — one file per tier
  * here keeps the fixture relation readable. */
object MinorCompaction {

  /** Power-of-two tier unit. Deliberately small (16 KiB) so the fixture
    * tiers spread; a real deployment sets ~50 MB (Cassandra's
    * min_sstable_size analog). */
  val MinTierBytes = 16L << 10

  /** Minimum tier population that triggers a compaction (Cassandra's
    * min_threshold, default 4; 2 here so the 6-sstable fixture set has
    * both selected tiers and a passthrough). */
  val MinThreshold = 2

  /** Output generations start here: tier t writes sst-(TierGenBase+t)
    * (passthrough inputs keep generations 1..6, so outputs never
    * collide). */
  val TierGenBase = 900L

  private val ChkMod = 1000003L

  /** bit-length of (bytes div MinTierBytes), floored at 1 — the tier. */
  def tierOf(modelBytes: Long): Int = {
    val x = math.max(1L, modelBytes / MinTierBytes)
    64 - java.lang.Long.numberOfLeadingZeros(x)
  }

  private val memo = new SessionMemo[String]

  /** Compact the tiered set's selected tiers into one real sstable per
    * tier under a session-memoized temp dir; returns the output dir. */
  def ensureCompacted(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): String =
    memo(spark, s"$dir|minor|$gcBeforeS")(build(spark, dir, gcBeforeS))

  /** The production scan of the tiered input set, ids normalized back to
    * the fixture's sst-<n> names. */
  private def inputEvents(spark: SparkSession, inPath: String): DataFrame =
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))

  private val tierMemo = new SessionMemo[Seq[(String, Int, Boolean)]]

  /** Driver-side tier table: (sstable_id, tier, selected) off one pruned
    * single-column aggregate — O(#sstables) rows. Session-memoized
    * (round 14): build + roundtrip both consult it, and it is a pure
    * function of the input set, so the selection aggregate runs once. */
  def tierTable(spark: SparkSession, dir: String)
      : Seq[(String, Int, Boolean)] =
    tierMemo(spark, s"$dir|tiers")(buildTierTable(spark, dir))

  private def buildTierTable(spark: SparkSession, dir: String)
      : Seq[(String, Int, Boolean)] = {
    val inPath = CassandraDataFixture.ensureTieredFiles(spark, dir)
    val perSst = inputEvents(spark, inPath)
      .groupBy("sstable_id")
      .agg(sum(lit(Compaction.EventOverheadBytes) + col("size_bytes"))
        .as("bytes"))
      .collect()
      .map(r => (r.getString(0), tierOf(r.getLong(1))))
    val counts = perSst.groupBy(_._2).view.mapValues(_.length).toMap
    perSst.sortBy(_._1).toSeq
      .map { case (id, t) => (id, t, counts(t) >= MinThreshold) }
  }

  private def build(spark: SparkSession, dir: String,
      gcBeforeS: Long): String = {
    val inPath = CassandraDataFixture.ensureTieredFiles(spark, dir)
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-minor-compaction"))
      .toString
    val tiers = tierTable(spark, dir)
    val selected = tiers.filter(_._3)
    require(selected.nonEmpty, s"no tier reached $MinThreshold under $dir")
    val tierMap = selected.map { case (id, t, _) => (id, t) }
    val ev = inputEvents(spark, inPath)
    import spark.implicits._
    val tierDf = tierMap.toDF("sstable_id", "tier")
    // one LWW merge per tier: q162's combine-enabled aggregate with the
    // tier prefixed to the merge key (events of different tiers never
    // merge — they are separate compactions)
    val winners = ev.join(broadcast(tierDf), "sstable_id")
      .groupBy("tier", "key", "clustering", "column_name")
      .agg(max(struct(
        col("timestamp_us"), col("sstable_id"), col("size_bytes"),
        col("is_tombstone"), col("local_deletion_time_s"), col("ttl_s"),
        col("is_expiring"), col("kind"))).as("w"))
    // the per-tier conservative guard: a tier's droppable tombstone
    // survives when ANY sstable outside that tier's compaction
    // (passthrough OR another selected tier) holds its key — sidecar
    // ranges/blooms prefilter, broadcast confirm (see PurgeGuard)
    val groupOf = tierMap.toMap
    val guards = PurgeGuard.load(inPath,
      id => groupOf.getOrElse(id, PurgeGuard.Passthrough))
    val blocked = PurgeGuard.blockedKeys(spark, guards, ev, winners,
      col("tier"), gcBeforeS)
    val kept = winners
      .join(broadcast(blocked),
        col("tier") === col("grp") && col("key") === col("gkey"), "left")
      .drop("grp", "gkey")
      .where(!(col("w.is_tombstone") &&
        col("w.local_deletion_time_s") < gcBeforeS) ||
        coalesce(col("in_guard"), lit(false)))
    kept.select(
        concat(lit("sst-"), (lit(TierGenBase) + col("tier")).cast("string"))
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

  /** q186: STCS RE-INGESTION (round 14, W11's size-tiered twin) — the
    * compacted state re-enters the strategy's own size ladder: assemble
    * (tier outputs + passthrough original) as one real directory and
    * recompute the tier table from those files. The re-derived ladder
    * exposes STCS's CASCADE dynamic: the small tiers' merge lands in the
    * passthrough's size class (two members → selected again — the next
    * minor compaction, named off the outputs' own bytes), while the big
    * tiers' merge sits alone in a higher class, stable. Exactly how real
    * STCS walks data up the ladder across successive minors. One row per
    * surviving sstable with its re-derived tier and selection verdict,
    * all replayed from parquet. */
  def reingestTable(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val inPath = CassandraDataFixture.ensureTieredFiles(spark, dir)
    val outPath = ensureCompacted(spark, dir, gcBeforeS)
    val tiers = tierTable(spark, dir)
    val passGens = tiers.filterNot(_._3)
      .map(t => s"nb-${t._1.stripPrefix("sst-").toLong + 1}-big").toSet
    val state = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-minor-reingest"))
    def copyAll(from: String, keep: String => Boolean): Unit =
      Option(new java.io.File(from).listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
        .filter(f => keep(f.getName)).foreach { f =>
          java.nio.file.Files.copy(f.toPath, state.resolve(f.getName))
          ()
        }
    copyAll(outPath, _ => true)
    copyAll(inPath, n => passGens.exists(n.startsWith))
    val perSst = inputEvents(spark, state.toString)
      .groupBy("sstable_id")
      .agg(sum(lit(Compaction.EventOverheadBytes) + col("size_bytes"))
        .as("model_bytes"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), tierOf(r.getLong(1))))
    val counts = perSst.groupBy(_._3).view.mapValues(_.length).toMap
    import spark.implicits._
    perSst.toSeq.sortBy(_._1)
      .map { case (id, bytes, t) =>
        (id, bytes, t.toLong, counts(t) >= MinThreshold) }
      .toDF("sstable_id", "model_bytes", "tier", "selected")
      .orderBy("sstable_id")
  }

  private def rollup(unit: Column, action: Column, sstablesIn: Column,
      df: DataFrame): DataFrame =
    df.groupBy(unit.as("unit"), action.as("action"))
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

  /** q171: the full minor-compaction relation — merged tiers read back
    * from the REAL sstables the compaction wrote, passthrough sstables
    * read from the untouched originals, one rollup row per unit. */
  def roundtrip(spark: SparkSession, dir: String,
      gcBeforeS: Long = Fixtures.GcBeforeS): DataFrame = {
    val inPath = CassandraDataFixture.ensureTieredFiles(spark, dir)
    val outPath = ensureCompacted(spark, dir, gcBeforeS)
    val tiers = tierTable(spark, dir)
    import spark.implicits._
    val tierSizes = tiers.filter(_._3).groupBy(_._2).view
      .mapValues(_.size).toSeq.map { case (t, n) => (t.toLong, n.toLong) }
      .toDF("tier", "sstables_in")
    val merged = DataDb.cells(spark, outPath,
        format = DataDbScan.FormatCassandra)
      .withColumn("tier",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - TierGenBase)
      .join(broadcast(tierSizes), "tier")
    val passIds = tiers.filterNot(_._3).map(_._1)
    val passthrough = inputEvents(spark, inPath)
      .where(col("sstable_id").isin(passIds: _*))
    rollup(concat(lit("tier-"), col("tier").cast("string")),
        lit("compacted"), col("sstables_in"), merged)
      .unionByName(rollup(col("sstable_id"), lit("passthrough"),
        lit(1L), passthrough))
      .orderBy("unit")
  }
}
