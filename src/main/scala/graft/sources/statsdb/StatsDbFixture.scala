package graft.sources.statsdb

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.sources.{Fixtures, SessionMemo, TempDirs}

/** Materializes the sstable_meta fixture (lineitem AND orders sstables) as
  * REAL binary Statistics.db files (StatsDbFormat), so the DataSource V2
  * path is exercised — and oracle-checked — end to end: parquet →
  * sstable_meta rollup → binary encode → file → DSv2 parse must equal the
  * DuckDB recomputation from the same parquet inputs.
  *
  * Driver-side sequential writes are fine here: this is fixture generation
  * (the real deployment reads files Cassandra already wrote), not query
  * execution — and there is exactly one tiny file per sstable. */
object StatsDbFixture {

  private val memo = new SessionMemo[String](TempDirs.deleteDir)

  def ensureFiles(spark: SparkSession, dir: String): String =
    memo(spark, dir)(
      TempDirs.fill("graft-statsdb-fixture")(writeAll(spark, dir, _)))

  private def writeAll(spark: SparkSession, dir: String, out: Path): Unit = {
    val rows = Fixtures.sstableMeta(Fixtures.allPscan(spark, dir)).collect()
    rows.foreach { r =>
      def L(n: String): Long = r.getLong(r.fieldIndex(n))
      val sstableId = r.getString(r.fieldIndex("sstable_id"))
      val stats = StatsDbFormat.Stats(
        keyspace = r.getString(r.fieldIndex("keyspace")),
        tbl = r.getString(r.fieldIndex("tbl")),
        partitionCount = L("partition_count"),
        uncompressedLength = L("uncompressed_length"),
        diskLength = L("disk_length"),
        maxPartitionSize = L("max_partition_size"),
        avgPartitionSize = L("avg_partition_size"),
        cellCount = L("cell_count"),
        minTimestampUs = L("min_timestamp_us"),
        maxTimestampUs = L("max_timestamp_us"),
        level = r.getInt(r.fieldIndex("level")),
        isRepaired = r.getBoolean(r.fieldIndex("is_repaired")),
        repairedAtMs =
          if (r.isNullAt(r.fieldIndex("repaired_at_ms"))) None
          else Some(L("repaired_at_ms")),
        compactionStrategy = r.getString(r.fieldIndex("compaction_strategy")),
        fileTimestampMs = L("file_timestamp_ms"),
        minLocalDeletionTimeS = L("min_local_deletion_time_s"),
        maxLocalDeletionTimeS = L("max_local_deletion_time_s"),
        estimatedKeys = L("estimated_keys"),
        avgColumnCount = L("avg_column_count"),
        maxColumnCount = L("max_column_count"),
        droppableTombstoneCount = L("droppable_tombstone_count"),
        droppableRatioX1000 = L("droppable_ratio_x1000"))
      val stream = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(
          out.resolve(sstableId + StatsDbFormat.Suffix).toFile)))
      try StatsDbFormat.write(stream, stats) finally stream.close()
    }
  }
}

/** Materializes the sstable_meta fixture as REAL-format (Cassandra "nb")
  * Statistics.db files — `nb-<gen>-big-Statistics.db`, generation = 1-based
  * rank of the sstable_id — for the q62 real-format roundtrip. Every field
  * derives deterministically from the parquet metadata so the DuckDB oracle
  * recomputes it without touching the binary:
  *
  *  - partition-size histogram: offsets [avg, max], buckets [n−1, 1, 0]
  *    (n = partition_count) ⇒ count = n, max() = max_partition_size,
  *    mean() = ceil(((n−1)·avg + max) / n) in double arithmetic;
  *  - cell-count histogram: same shape over avg/max column count;
  *  - tombstone histogram: two bins straddling the gc cutoff —
  *    (gcBefore − 86400, droppable_tombstone_count) and
  *    (gcBefore + 86400, 17) — so `sum(gcBefore)` exercises the trapezoid
  *    interpolation, not just the all-below fast path;
  *  - commit log: upper = (1700000 + gen, gen·1024), lower = (1700000, 0),
  *    one interval [lower, upper];
  *  - clustering blobs: gen%2+1 min / gen%3+1 max components (content
  *    arbitrary, counts checked); "oa" files re-encode these as the
  *    covered-clustering slice with NULL/EMPTY flag components mixed in
  *    (derivation in writeAll, oracle-recomputed by q100);
  *  - totalColumnsSet = cell_count, totalRows = partition_count,
  *    minTTL = 0, maxTTL = 86400, bloom FP = 0.01, Murmur3Partitioner.
  */
object CassandraStatsFixture {

  private val memo = new SessionMemo[String](TempDirs.deleteDir)

  def ensureFiles(spark: SparkSession, dir: String): String =
    ensure(spark, dir, "nb")

  /** The same sstables as big-format version "oa" (version-gated
    * StatsMetadata tail), in their OWN directory so the "nb" scan (q62)
    * never sees mixed generations. */
  def ensureOaFiles(spark: SparkSession, dir: String): String =
    ensure(spark, dir, "oa")

  private def ensure(spark: SparkSession, dir: String,
      version: String): String =
    memo(spark, s"$dir|$version")(
      TempDirs.fill("graft-cassstats-fixture")(
        writeAll(spark, dir, _, version)))

  private def writeAll(spark: SparkSession, dir: String, out: Path,
      version: String): Unit = {
    import CassandraStatsFormat._
    val rows = Fixtures.sstableMeta(Fixtures.allPscan(spark, dir))
      .orderBy("sstable_id").collect()
    rows.zipWithIndex.foreach { case (r, idx) =>
      def L(n: String): Long = r.getLong(r.fieldIndex(n))
      val gen = idx + 1L
      val n = L("partition_count")
      val gcB = Fixtures.GcBeforeS
      val stats = Stats(
        partitionSize = EstimatedHistogram(
          Array(L("avg_partition_size"), L("max_partition_size")),
          Array(n - 1, 1L, 0L)),
        columnCount = EstimatedHistogram(
          Array(L("avg_column_count"), L("max_column_count")),
          Array(n - 1, 1L, 0L)),
        commitLogUpper = CommitLogPosition(1700000L + gen, (gen * 1024).toInt),
        minTimestampUs = L("min_timestamp_us"),
        maxTimestampUs = L("max_timestamp_us"),
        minLocalDeletionTimeS = L("min_local_deletion_time_s").toInt,
        maxLocalDeletionTimeS = L("max_local_deletion_time_s").toInt,
        minTtlS = 0,
        maxTtlS = 86400,
        compressionRatio =
          L("disk_length").toDouble / L("uncompressed_length"),
        tombstones = TombstoneHistogram(
          Array((gcB - 86400).toDouble, (gcB + 86400).toDouble),
          Array(L("droppable_tombstone_count"), 17L)),
        level = r.getInt(r.fieldIndex("level")),
        repairedAtMs =
          if (r.isNullAt(r.fieldIndex("repaired_at_ms"))) 0L
          else L("repaired_at_ms"),
        minClustering = (0 until (gen % 2 + 1).toInt)
          .map(j => Array.tabulate(4)(b => (gen + j + b).toByte)),
        maxClustering = (0 until (gen % 3 + 1).toInt)
          .map(j => Array.tabulate(4)(b => (gen * 2 + j + b).toByte)),
        hasLegacyCounterShards = false,
        totalColumnsSet = L("cell_count"),
        totalRows = n,
        commitLogLower = CommitLogPosition(1700000L, 0),
        commitLogIntervals = Seq(
          (CommitLogPosition(1700000L, 0),
            CommitLogPosition(1700000L + gen, (gen * 1024).toInt))),
        pendingRepair = None,
        isTransient = false)
      val f = CassandraStatsFormat.File(
        Validation("org.apache.cassandra.dht.Murmur3Partitioner", 0.01),
        stats)
      // "oa" files carry the version-gated tail (originatingHostId,
      // partition-level-deletions marker, first/last key range,
      // token-space coverage), derived deterministically so the oracle
      // recomputes them (q77)
      val withTail =
        if (version < "nc") f
        else f.copy(stats = stats.copy(tail = Some(
          CassandraStatsFormat.VersionedTail(
            originatingHostId = Some((gen * 1000003L, gen * 2000003L)),
            hasPartitionLevelDeletions = gen % 2 == 0,
            firstKey = java.nio.ByteBuffer.allocate(8)
              .putLong(gen * 1000L + 1L).array(),
            lastKey = java.nio.ByteBuffer.allocate(8)
              .putLong(gen * 1000L + 999L).array(),
            tokenSpaceCoverage = gen.toDouble / 6.0))))
      // "oa" replaces the legacy min/max blob lists with the covered-
      // clustering slice (q100). Component mix exercises every flag class:
      // real values (byte b of value j = gen[+gen for end] + j + b), one
      // EMPTY component on even generations, one NULL on gen % 3 == 0.
      val versioned =
        if (!CassandraStatsFormat.hasLegacyMinMax(version))
          withTail.copy(stats = withTail.stats.copy(coveredClustering =
            Some(CassandraStatsFormat.CoveredSlice(
              CassandraStatsFormat.ClusteringBound(
                CassandraStatsFormat.KindInclStartBound,
                (0 until (gen % 2 + 1).toInt).map(j => Some(
                  Array.tabulate(4)(b => (gen + j + b).toByte))) ++
                  (if (gen % 2 == 0) Seq(Some(Array.emptyByteArray))
                   else Nil) ++
                  (if (gen % 3 == 0) Seq(None) else Nil)),
              CassandraStatsFormat.ClusteringBound(
                CassandraStatsFormat.KindInclEndBound,
                (0 until (gen % 3 + 1).toInt).map(j => Some(
                  Array.tabulate(4)(b => (gen * 2 + j + b).toByte))))))))
        else withTail
      val stream = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(out.resolve(
          s"$version-$gen-big${CassandraStatsFormat.Suffix}").toFile)))
      try CassandraStatsFormat.write(stream, versioned, version = version)
      finally stream.close()
    }
  }
}
