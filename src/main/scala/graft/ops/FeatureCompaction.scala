package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbFormat, DataDbScan}

/** DELETION-SHADOWING compaction, executed end to end over the FEATURE
  * variant set (round 11) — real compaction applies the deletion
  * hierarchy, not just tombstone GC of LWW winners, and q162's
  * cells/markers-only merge never exercises it. This operator consumes
  * the PARTITION_DELETION / ROW_DELETION / COMPLEX_DELETION events the
  * round-9 reader surfaces (Integrity.rowLevelEvents, q110) as
  * SEMANTICS:
  *
  *  - a partition deletion shadows every event in its partition with
  *    `timestamp <= markedForDeleteAt` (the q121 rule — reference
  *    `PurgeStatisticBackend.java:201-257`);
  *  - a row deletion shadows its row's cells and pk liveness the same
  *    way (static rows carry their own row deletions);
  *  - a complex deletion additionally shadows its complex column's
  *    cells;
  *  - deletions THEMSELVES survive only while relevant: superseded by a
  *    higher-level deletion (`ts <= covering deletion`) they drop, and
  *    past gc_grace (`local_deletion_time < gcBefore`) they purge —
  *    while everything they shadowed is removed unconditionally (this is
  *    a MAJOR compaction: all sstables participate, so nothing outside
  *    the input can still need the tombstone).
  *
  * The merge is EXECUTED, not just accounted: survivors are written back
  * as real feature-schema sstables (static rows, pk liveness, row/complex
  * deletions, complex cells with paths — through
  * [[CassandraDataFixture.writeFeatureCompacted]]), re-read through the
  * production `format=cassandra` scan, and rolled up per output sstable
  * at TWO gc cutoffs chosen so every deletion type bisects its
  * droppable/retained branches on at least one cutoff. The DuckDB oracle
  * (q164) replays the deterministic feature model plus the full shadow
  * hierarchy plus both gc branches from parquet — a wrong comparison
  * direction, a deletion applied at the wrong level, a dropped-but-
  * should-shadow tombstone, or a mis-written compacted row all surface
  * as a hash mismatch.
  *
  * Scale shape: the deletion relations are tiny (deletions are rare
  * events) and broadcast; the event scan stays distributed with ONE
  * Catalyst-planned clustered exchange into the DSv2 sink's feature-
  * schema writers; output fan-out is the same volume-adaptive
  * [[Compaction.outputShards]] sizing q162 uses. A
  * deletion-heavy corpus would co-partition instead of broadcasting —
  * the join keys are already the co-partition keys. */
object FeatureCompaction {

  /** gc cutoff A — inside the row-deletion ldt band (D1 + [0,100)): row
    * and static-row deletions bisect droppable/retained; partition and
    * complex deletions (D2 band) all retained. */
  val GcA: Long = CassandraDataFixture.FeatureD1 + 50L

  /** gc cutoff B — inside the partition/complex-deletion ldt band
    * (D2 + [0,40)/[0,50)): those bisect; row deletions all purge. */
  val GcB: Long = CassandraDataFixture.FeatureD2 + 20L

  private val memo = new SessionMemo[String]

  /** Compact the feature set of `dir` under the shadow hierarchy at
    * `gcBeforeS` into volume-adaptively-many real feature-schema
    * sstables; returns the output directory (session-memoized: the two
    * gc cutoffs, and other inputs, build concurrently). */
  def ensureCompacted(spark: SparkSession, dir: String,
      gcBeforeS: Long, copartitioned: Boolean = false): String =
    memo(spark, s"$dir|feat|$gcBeforeS|$copartitioned")(
      build(spark, dir, gcBeforeS, copartitioned))

  private def build(spark: SparkSession, dir: String,
      gcBeforeS: Long, copartitioned: Boolean): String = {
      val inPath = CassandraDataFixture.ensureFeatureFiles(spark, dir)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory(
          "graft-feature-compaction")).toString
      val ev = DataDb.read(spark, inPath,
          format = DataDbScan.FormatCassandra)
        .withColumn("k", graft.sources.BinaryKeys.beLong(col("key")))
      // the same relational volume model as q162's sharding (oracle-
      // replayable; production swaps in the sidecar data_length sum);
      // memoized per input set - both gc cutoffs share one sizing pass
      val shards = Compaction.memoizedShards(spark, inPath)(
        ev.agg(sum(lit(Compaction.EventOverheadBytes) + col("size_bytes")))
          .head.getLong(0))
      // survivors flow through the DSv2 sink's FEATURE schema (round 11):
      // Catalyst plans the clustered exchange + sort on the output id —
      // no groupByKey/mapGroups arrangement — and each task's
      // FeatureSstableWriter rolls one complete real sstable per shard
      survivors(ev, gcBeforeS, copartitioned)
        .select(
          concat(lit("fb-"), pmod(col("k"), lit(shards))).as("sstable_id"),
          col("k").as("key"), col("clustering"), col("column_name"),
          col("kind"), col("timestamp_us"), col("ttl_s"),
          col("local_deletion_time_s"), col("value"))
        .write.format("sstable-data")
        .option("path", out).option("schema", "feature")
        .mode("append").save()
      require(Option(new java.io.File(out).listFiles()).exists(_.nonEmpty),
        s"feature compaction of $dir emitted nothing")
      out
  }

  /** The shadow-hierarchy survivor relation over a decoded event frame
    * (`k` = decoded long key). Join strategy is the scale dial:
    * `copartitioned = false` BROADCASTS the three deletion relations —
    * right when deletions are rare events (the common corpus); `true`
    * co-partitions event and deletion sides on the join keys through
    * shuffle-hash joins instead — the deletion-HEAVY fallback, where a
    * dense deletion set would blow the broadcast threshold/driver. Each
    * join co-partitions on its own key prefix (k / (k, clustering) /
    * (k, clustering, column_name)), so the event side crosses three
    * exchanges — the price of arbitrary-size deletion relations; a
    * corpus where even that dominates would collapse the three deletion
    * relations into one per-partition map joined once on k, trading the
    * extra exchanges for per-row map lookups (bounded by partition
    * size). Both strategies compute the identical relation — q169 runs
    * the full q164 roundtrip through this path against the same
    * oracle. */
  def survivors(ev: DataFrame, gcBeforeS: Long,
      copartitioned: Boolean = false): DataFrame = {
    def side(df: DataFrame): DataFrame =
      if (copartitioned) df.hint("shuffle_hash") else broadcast(df)
    val pd = ev.where(col("kind") === DataDbFormat.KindPartitionDeletion)
      .groupBy("k").agg(max("timestamp_us").as("pd_ts"))
    val rd = ev.where(col("kind") === DataDbFormat.KindRowDeletion)
      .groupBy("k", "clustering").agg(max("timestamp_us").as("rd_ts"))
    val cd = ev.where(col("kind") === DataDbFormat.KindComplexDeletion)
      .groupBy("k", "clustering", "column_name")
      .agg(max("timestamp_us").as("cd_ts"))
    val joined = ev
      .join(side(pd), Seq("k"), "left")
      .join(side(rd), Seq("k", "clustering"), "left")
      .join(side(cd), Seq("k", "clustering", "column_name"), "left")
    val minL = lit(Long.MinValue)
    val pdTs = coalesce(col("pd_ts"), minL)
    val rdTs = coalesce(col("rd_ts"), minL)
    val cdTs = coalesce(col("cd_ts"), minL)
    val eff = greatest(pdTs, rdTs)
    val ts = col("timestamp_us")
    val ldt = col("local_deletion_time_s")
    // the shadow hierarchy: data survives deletions strictly newer than
    // it at every covering level; deletions survive only while neither
    // superseded nor gc-droppable (shadowed data is gone either way —
    // major-compaction semantics)
    val survives =
      when(col("kind").isin(DataDbFormat.KindCell,
        DataDbFormat.KindStaticCell), ts > greatest(eff, cdTs))
        .when(col("kind") === DataDbFormat.KindRowLiveness, ts > eff)
        .when(col("kind") === DataDbFormat.KindRowDeletion,
          ts === col("rd_ts") && ts > pdTs && ldt >= gcBeforeS)
        .when(col("kind") === DataDbFormat.KindComplexDeletion,
          ts === col("cd_ts") && ts > eff && ldt >= gcBeforeS)
        .when(col("kind") === DataDbFormat.KindPartitionDeletion,
          ts === col("pd_ts") && ldt >= gcBeforeS)
        .otherwise(lit(false))
    joined.where(survives)
  }

  private val M = 1000003L

  /** q164: the compacted feature sets at BOTH gc cutoffs read back
    * through the production scan and rolled up per (gc, output sstable)
    * with per-event-kind modular sums — every surviving field of every
    * surviving event lands in the hash. */
  def roundtrip(spark: SparkSession, dir: String,
      copartitioned: Boolean = false): DataFrame = {
    val frames = Seq(GcA, GcB).map { gc =>
      DataDb.read(spark, ensureCompacted(spark, dir, gc, copartitioned),
          format = DataDbScan.FormatCassandra)
        .withColumn("gc_before_s", lit(gc))
        .withColumn("sstable_id",
          regexp_extract(col("sstable_id"), "fb-(\\d+)", 0))
        .withColumn("k", graft.sources.BinaryKeys.beLong(col("key")))
    }
    val ev = frames.reduce(_ unionByName _)
    def cnt(kind: String): org.apache.spark.sql.Column =
      sum(when(col("kind") === kind, 1L).otherwise(0L))
    def msum(kind: String, c: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      sum(when(col("kind") === kind, c % M).otherwise(0L))
    def rsum(kind: String, c: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      sum(when(col("kind") === kind, c).otherwise(0L))
    val ts = col("timestamp_us")
    val ldt = col("local_deletion_time_s")
    import DataDbFormat._
    val perKey = ev.groupBy("gc_before_s", "sstable_id", "k")
      .agg(
        cnt(KindStaticCell).as("statics"),
        msum(KindStaticCell, ts).as("static_ts_sum"),
        rsum(KindStaticCell, col("size_bytes")).as("static_size_sum"),
        cnt(KindRowLiveness).as("liveness"),
        msum(KindRowLiveness, ts).as("live_ts_sum"),
        rsum(KindRowLiveness, col("ttl_s")).as("live_ttl_sum"),
        msum(KindRowLiveness, ldt).as("live_ldt_sum"),
        cnt(KindRowDeletion).as("row_dels"),
        msum(KindRowDeletion, ts).as("rdel_ts_sum"),
        msum(KindRowDeletion, ldt).as("rdel_ldt_sum"),
        cnt(KindComplexDeletion).as("complex_dels"),
        msum(KindComplexDeletion, ts).as("cdel_ts_sum"),
        msum(KindComplexDeletion, ldt).as("cdel_ldt_sum"),
        cnt(KindCell).as("cells"),
        msum(KindCell, ts).as("cell_ts_sum"),
        rsum(KindCell, col("size_bytes")).as("cell_size_sum"),
        cnt(KindPartitionDeletion).as("part_dels"),
        msum(KindPartitionDeletion, ts).as("pdel_ts_sum"),
        msum(KindPartitionDeletion, ldt).as("pdel_ldt_sum"))
    perKey.groupBy("gc_before_s", "sstable_id")
      .agg(
        count(lit(1)).as("partitions"),
        sum(col("k") % M).as("keys_sum"),
        sum("statics").as("statics"),
        sum("static_ts_sum").as("static_ts_sum"),
        sum("static_size_sum").as("static_size_sum"),
        sum("liveness").as("liveness"),
        sum("live_ts_sum").as("live_ts_sum"),
        sum("live_ttl_sum").as("live_ttl_sum"),
        sum("live_ldt_sum").as("live_ldt_sum"),
        sum("row_dels").as("row_dels"),
        sum("rdel_ts_sum").as("rdel_ts_sum"),
        sum("rdel_ldt_sum").as("rdel_ldt_sum"),
        sum("complex_dels").as("complex_dels"),
        sum("cdel_ts_sum").as("cdel_ts_sum"),
        sum("cdel_ldt_sum").as("cdel_ldt_sum"),
        sum("cells").as("cells"),
        sum("cell_ts_sum").as("cell_ts_sum"),
        sum("cell_size_sum").as("cell_size_sum"),
        sum("part_dels").as("part_dels"),
        sum("pdel_ts_sum").as("pdel_ts_sum"),
        sum("pdel_ldt_sum").as("pdel_ldt_sum"))
      .orderBy("gc_before_s", "sstable_id")
  }
}
