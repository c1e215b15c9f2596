package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops._
import graft.oracle.OracleSql

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query inventory (SURVEY §2 coverage):
  *  - q01–q04, q18: `pstats` (Index.db pipeline — A6 distribution, T1/T2
  *    top-Ns, A2/A14 sstable section, S4 offset-delta window).
  *  - q05, q06: `summary` + `sstables` (A11 rollup, S2/T3 metadata report).
  *  - q07–q15: `cfstats` (A1 collate, A6–A10 histograms, A9 totals,
  *    F3/F4 filters, T1/T2 top-Ns, A2/A13 sstable stats).
  *  - q16, q17: `purge` (J2/A12 LWW merge + F7 gc_grace purge).
  *  - q20–q25, q33: dedup family (exact, n-gram Jaccard, MinHash+LSH,
  *    SimHash, embedding near-dup) + similarity search (brute-force & LSH).
  *  - q26–q29: text analysis; q30–q31: events rollup/sessionization;
  *    q32: multimodal metadata.
  * Spark-only queries (engine-specific hashes / approximations) have no
  * oracleSql entry and get the driver's rows-only check.
  */
object SparkEntry {

  /** Modulus for roundtrip checksum sums (prime, matches the oracle SQL):
    * SUM(value % P) over n rows is bounded by n·P, so the checksum never
    * overflows a Long no matter how large values or row counts grow —
    * unlike a raw SUM, which ANSI-aborts once it crosses 2^63. */
  val ChkMod = 1000003L

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Purge.top(spark, "/root/testdata/sf0.001")

  /** q67/q68 shared body: real big-format Data.db files (optionally
    * LZ4-chunked with a CompressionInfo.db map) parsed back through the
    * `format=cassandra` DSv2 path and rolled up per sstable. The split size
    * targets [[CassSplitsPerFile]] splits over the largest Data.db, so the
    * roundtrip proves partition-boundary split planning (and, compressed,
    * the chunkFor offset mapping) preserves every event exactly once at ANY
    * fixture scale — without the task count degenerating (a fixed tiny
    * split size means thousands of near-empty tasks at sf0.1 and would be
    * absurd on real multi-GB sstables; a fixed huge one means one split per
    * file at sf0.001 and the boundary logic goes untested). */
  private[graft] val CassSplitsPerFile = 8L

  private[graft] def cassSplitBytes(path: String): Long = {
    val files = Option(new java.io.File(path)
      .listFiles((_, n) => n.endsWith("-Data.db")))
      .getOrElse(Array.empty[java.io.File])
    val largest = files.foldLeft(0L)((m, f) => math.max(m, f.length()))
    math.max(64L << 10, largest / CassSplitsPerFile)
  }

  private def cassandraDataRoundtrip(s: SparkSession, d: String,
      compressed: Boolean): DataFrame = {
    import graft.sources.datadb.CassandraDataFixture
    val path = CassandraDataFixture.ensureFiles(s, d, compressed)
    cassandraRollup(s, path, cassSplitBytes(path))
  }

  /** The per-sstable event rollup shared by q67/q68/q112: scan a real
    * big-format directory at the given split size and checksum every
    * surfaced field per sstable. */
  private def cassandraRollup(s: SparkSession, path: String,
      splitBytes: Long): DataFrame = {
    import graft.sources.datadb.{DataDb, DataDbScan}
    DataDb.cells(s, path, maxSplitBytes = Some(splitBytes),
        format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id",
        concat(lit("sst-"),
          (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
            .cast("long") - 1L).cast("string")))
      .groupBy("sstable_id")
      .agg(count(lit(1)).as("events"),
        sum(when(col("kind") === "CELL", 1L).otherwise(0L)).as("cells"),
        sum(when(col("kind") === "RANGE_TOMBSTONE_MARKER", 1L).otherwise(0L))
          .as("markers"),
        countDistinct("key").as("partitions"),
        sum(col("key") % ChkMod).as("keys_sum"),
        sum(col("clustering") % ChkMod).as("clustering_sum"),
        sum(col("timestamp_us") % ChkMod).as("ts_sum"),
        sum(col("ttl_s") % ChkMod).as("ttl_sum"),
        sum(col("local_deletion_time_s") % ChkMod).as("ldt_sum"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"),
        sum(when(col("is_expiring"), 1L).otherwise(0L)).as("expiring"),
        sum(when(col("is_live"), 1L).otherwise(0L)).as("live"),
        sum(col("size_bytes") % ChkMod).as("value_sum"),
        sum(length(col("column_name")).cast("long") % ChkMod)
          .as("colname_len_sum"))
      .orderBy("sstable_id")
  }

  /** q112: the WIDE-PARTITION set — 8 huge partitions per sstable (cells
    * remapped to key%8 with the original key as clustering), read at a
    * split size far below a single partition's byte span. The planner must
    * cut INSIDE partitions at the promoted row index's block boundaries
    * (mid-partition ranges seeded with the index entry's key), and — the
    * set being LZ4-chunked — each range start must seek through the chunk
    * table too. Same rollup as q67; the oracle replays the remap
    * relationally. A split size of largest-file/32 forces intra-partition
    * cuts at every tier (a partition is ~1/8 of a file) while the task
    * count stays ~32/file — the planning behavior a 100 TB skewed corpus
    * needs, proven on the real codec. */
  private def widePartitionRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.sources.datadb.CassandraDataFixture
    val path = CassandraDataFixture.ensureWideFiles(s, d)
    val files = Option(new java.io.File(path)
      .listFiles((_, n) => n.endsWith("-Data.db")))
      .getOrElse(Array.empty[java.io.File])
    val largest = files.foldLeft(0L)((m, f) => math.max(m, f.length()))
    cassandraRollup(s, path, math.max(4096L, largest / 32))
  }

  /** q111: the MULTI-CODEC compressed set — the same corpus with each
    * sstable chunk-compressed by a different one of Cassandra's four
    * published codecs (gen % 4 → LZ4 / Snappy / Deflate / Zstd), rolled up
    * per compressor. The grouping key is the compressor name READ FROM
    * EACH FILE'S OWN CompressionInfo.db header (joined on generation, tiny
    * broadcast), not the fixture's rotation rule — so writing or selecting
    * the wrong codec for a generation surfaces as an oracle hash mismatch,
    * not merely a decode crash. */
  private def multiCodecRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
    val path = CassandraDataFixture.ensureMultiCodecFiles(s, d)
    val codecOf = graft.sources.compressioninfo.CompressionInfo.read(s, path)
      .select(col("generation"), col("compressor")).distinct()
    DataDb.cells(s, path, maxSplitBytes = Some(cassSplitBytes(path)),
        format = DataDbScan.FormatCassandra)
      .withColumn("generation",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1).cast("long"))
      .join(broadcast(codecOf), "generation")
      .groupBy("compressor")
      .agg(countDistinct("generation").as("sstables"),
        count(lit(1)).as("events"),
        sum(when(col("kind") === "CELL", 1L).otherwise(0L)).as("cells"),
        sum(when(col("kind") === "RANGE_TOMBSTONE_MARKER", 1L).otherwise(0L))
          .as("markers"),
        countDistinct("key").as("partitions"),
        sum(col("key") % ChkMod).as("keys_sum"),
        sum(col("clustering") % ChkMod).as("clustering_sum"),
        sum(col("timestamp_us") % ChkMod).as("ts_sum"),
        sum(col("ttl_s") % ChkMod).as("ttl_sum"),
        sum(col("local_deletion_time_s") % ChkMod).as("ldt_sum"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"),
        sum(when(col("is_expiring"), 1L).otherwise(0L)).as("expiring"),
        sum(when(col("is_live"), 1L).otherwise(0L)).as("live"),
        sum(col("size_bytes") % ChkMod).as("value_sum"),
        sum(length(col("column_name")).cast("long") % ChkMod)
          .as("colname_len_sum"))
      .orderBy("compressor")
  }

  /** q128: the DISTRIBUTED sstable bulk-export sink, through the DSv2
    * WRITER API (round 10): `cells.write.format("sstable-data")` — the
    * Write declares clustered distribution + ordering on `sstable_id`, so
    * CATALYST plans the co-locating exchange and sort and each task's
    * [[graft.sources.datadb.SstableDataWriter]] rolls one complete real
    * sstable (Data.db + every sidecar, LZ4-chunked) per id run — the
    * CQLSSTableWriter role, now a first-class sink instead of a
    * groupByKey/mapGroups arrangement. The exported directory is then
    * read back through the production `format=cassandra` scan and rolled
    * up — the answer must hash-match q67's oracle, proving write → read
    * closes over the real codec END TO END with the write side
    * distributed. (Local mode writes to a shared local dir; on a cluster
    * the target is a DFS path — the per-task upload is unchanged.) */
  private val exportMemo = new graft.sources.SessionMemo[String]

  private def sstableExport(s: SparkSession, d: String): DataFrame = {
    val path = exportMemo(s, d) {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-export")).toString
      graft.sources.Fixtures.cells(s, d)
        .where(col("tbl") === "lineitem")
        .select(col("sstable_id"), col("key"), col("clustering"),
          col("column_name"), col("kind"), col("timestamp_us"),
          col("ttl_s"), col("local_deletion_time_s"), col("is_tombstone"),
          col("is_expiring"), col("size_bytes"))
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }
    cassandraRollup(s, path, cassSplitBytes(path))
  }

  /** q163: VALUE-BYTE PASSTHROUGH through the sink and back (round 10) —
    * the writer stores caller-supplied bytes verbatim and the scan's
    * `value` column surfaces them. Live cells get an
    * oracle-recomputable payload string ('v<key>:<clustering>:<ts>'),
    * the relation is written via `df.write.format("sstable-data")`, read
    * back through `format=cassandra` WITH the value column, and the
    * per-sstable (count, length, h60) checksums of the decoded payloads
    * must match the oracle's direct derivation — content fidelity, not
    * just length fidelity. Value retention is pruning-gated: only a scan
    * that asks for `value` pays for the bytes. */
  private val valueExportMemo = new graft.sources.SessionMemo[String]

  /** The VALUE-BEARING real sstable set (round 10, shared by
    * q163/q166/q167): every live cell's stored bytes are the
    * oracle-recomputable payload string 'v<key>:<clustering>:<ts>',
    * written once per session through the DSv2 sink. */
  private def ensureValueExport(s: SparkSession, d: String): String = {
    valueExportMemo(s, d) {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-value-export")).toString
      graft.sources.Fixtures.cells(s, d)
        .where(col("tbl") === "lineitem")
        .select(col("sstable_id"), col("key"), col("clustering"),
          col("column_name"), col("kind"), col("timestamp_us"),
          col("ttl_s"), col("local_deletion_time_s"), col("is_tombstone"),
          col("is_expiring"), col("size_bytes"),
          when(col("kind") === "CELL" && !col("is_tombstone"),
            concat(lit("v"), col("key"), lit(":"), col("clustering"),
              lit(":"), col("timestamp_us")).cast("binary")).as("value"))
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }
  }

  private def valuePassthrough(s: SparkSession, d: String): DataFrame = {
    val path = ensureValueExport(s, d)
    graft.sources.datadb.DataDb.read(s, path,
        maxSplitBytes = Some(cassSplitBytes(path)),
        format = graft.sources.datadb.DataDbScan.FormatCassandra)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))
      .groupBy("sstable_id")
      .agg(count(lit(1)).as("events"),
        count(col("value")).as("valued"),
        coalesce(sum(length(col("value")).cast("long")), lit(0L))
          .as("len_sum"),
        coalesce(sum(graft.functions.PortableHash
          .h60(col("value").cast("string")) % ChkMod), lit(0L))
          .as("h60_sum"))
      .orderBy("sstable_id")
  }

  /** The point/slice probe list shared by q159/q166/q168: every present
    * key%1009==0 key plus its absent negation, as the raw 8-byte
    * big-endian key encoding — a few hundred plan literals at sf0.1 (the
    * point-query shape: the list IS the query). One definition so the
    * modulus / negation scheme can never desynchronize a query from its
    * shared oracle. */
  private def probeKeyBytes(s: SparkSession, d: String): Array[Array[Byte]] = {
    val present = graft.sources.Tables.lineitem(s, d)
      .select(col("l_orderkey").as("key")).where(col("key") % 1009 === 0)
      .distinct().collect().map(_.getLong(0)).sorted
    (present ++ present.map(-_ - 1)).map(k =>
      java.nio.ByteBuffer.allocate(8).putLong(k).array())
  }

  /** Per-key content checksums of a scan's `value` column — the shared
    * aggregate of the value point/slice reads (q166/q168). */
  private def valueChecksums(df: DataFrame): DataFrame =
    df.select(graft.sources.BinaryKeys.beLong(col("key")).as("key"),
        col("value"))
      .groupBy("key")
      .agg(count(lit(1)).as("events"),
        count(col("value")).as("valued"),
        coalesce(sum(length(col("value")).cast("long")), lit(0L))
          .as("len_sum"),
        coalesce(sum(graft.functions.PortableHash
          .h60(col("value").cast("string")) % ChkMod), lit(0L))
          .as("h60_sum"))
      .orderBy("key")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // catalog
    "q00_catalog" -> ((s, d) => Summary.catalog(s, d)),
    // pstats
    "q01_pstats_size_dist" -> ((s, d) => PStats.sizeDistribution(s, d)),
    "q19_pstats_filtered" -> ((s, d) => PStats.filteredSizeDistribution(
      s, d, Seq("sst-0", "sst-2", "sst-4"))),
    "q02_pstats_top_size" -> ((s, d) => PStats.topBySize(s, d)),
    "q03_pstats_top_tables" -> ((s, d) => PStats.topByTableCount(s, d)),
    "q04_pstats_sstables" -> ((s, d) => PStats.sstableSection(s, d)),
    "q18_index_offsets" -> ((s, d) => PStats.indexOffsets(s, d)),
    // fixture pscan → binary Index.db files → DataSource V2 parse →
    // aggregate; oracle recomputes from parquet, so a single mis-encoded
    // vint/key/position anywhere in the roundtrip hash-mismatches.
    // Checksums are sums of (value mod P): a raw SUM(position) overflows
    // Long once files reach real sizes (positions grow with file bytes);
    // the modular form keeps full per-value sensitivity at any scale.
    // AGGREGATE pushdown: the grouped COUNT(*) answered by the scan's
    // skip-walk — one row per file crosses the DSv2 boundary, no entry
    // rows, no exchange (complete pushdown, plan-asserted in the spec)
    "q156_pstats_pushdown_count" -> ((s, d) => {
      import graft.sources.indexdb.{IndexDb, IndexDbFixture}
      IndexDb.read(s, IndexDbFixture.ensureFiles(s, d))
        .groupBy("sstable_id").count()
        .withColumnRenamed("count", "entries")
        .orderBy("sstable_id")
    }),
    "q40_index_raw_roundtrip" -> ((s, d) => {
      import graft.sources.indexdb.{IndexDb, IndexDbFixture}
      IndexDb.read(s, IndexDbFixture.ensureFiles(s, d))
        .select(col("sstable_id"), col("position"),
          graft.sources.BinaryKeys.beLong(col("key")).as("key_long"))
        .groupBy("sstable_id")
        .agg(count(lit(1)).as("entries"),
          min(col("position")).as("first_position"),
          max(col("position")).as("last_position"),
          sum(col("position") % ChkMod).as("positions_sum"),
          sum(col("key_long") % ChkMod).as("keys_sum"))
        .orderBy("sstable_id")
    }),
    // X4 typed partition-key decode: the same Index.db roundtrip over a
    // COMPOSITE-key fixture (Cassandra CompositeType layout: 2-byte length,
    // bytes, end-of-component 0 per component) decoded by the key-validator
    // column algebra (ColumnFamilyBackend.java:163-166 renders through the
    // table's validator); the oracle recomputes the rendered "long:utf8"
    // form directly from parquet, so the binary decode is hash-checked.
    "q59_index_composite_keys" -> ((s, d) => {
      import graft.sources.indexdb.{IndexDb, IndexDbFixture}
      import graft.sources.KeyValidator
      val v = KeyValidator.CompositeKey(
        KeyValidator.LongKey, KeyValidator.Utf8Key)
      IndexDb.read(s, IndexDbFixture.ensureCompositeFiles(s, d))
        .select(col("sstable_id"), col("position"),
          v.format(col("key")).as("key_str"))
        .groupBy("sstable_id")
        .agg(count(lit(1)).as("entries"),
          min(col("key_str")).as("first_key"),
          max(col("key_str")).as("last_key"),
          sum(graft.functions.PortableHash.h60(col("key_str")) % ChkMod)
            .as("keys_sum"),
          sum(col("position") % ChkMod).as("positions_sum"))
        .orderBy("sstable_id")
    }),
    // X4 round 6: the full validator-type set — composite
    // (uuid, int32 incl. negatives, timestamp) keys decoded by the same
    // algebra; each marshal layout (UUIDType 16-byte msb/lsb, Int32Type
    // 4-byte two's complement, TimestampType 8-byte millis) roundtrips
    // binary → rendered string, hash-checked against the oracle's direct
    // parquet derivation.
    "q63_index_typed_keys" -> ((s, d) => {
      import graft.sources.indexdb.{IndexDb, IndexDbFixture}
      import graft.sources.KeyValidator
      val v = KeyValidator.CompositeKey(KeyValidator.UuidKey,
        KeyValidator.Int32Key, KeyValidator.TimestampKey)
      IndexDb.read(s, IndexDbFixture.ensureTypedFiles(s, d))
        .select(col("sstable_id"), col("position"),
          v.format(col("key")).as("key_str"))
        .groupBy("sstable_id")
        .agg(count(lit(1)).as("entries"),
          min(col("key_str")).as("first_key"),
          max(col("key_str")).as("last_key"),
          sum(graft.functions.PortableHash.h60(col("key_str")) % ChkMod)
            .as("keys_sum"),
          sum(col("position") % ChkMod).as("positions_sum"))
        .orderBy("sstable_id")
    }),
    // parquet cells → binary Data.db files → DataSource V2 parse →
    // per-sstable aggregate; the oracle recomputes from parquet, so any
    // mis-encoded event field anywhere in the roundtrip hash-mismatches.
    // Checksums are sums of (value mod P): SUM(timestamp_us) raw is ~2e14
    // per event, which overflows Long (ANSI abort) past ~45k events per
    // sstable — sf0.1 already crossed it; the modular form keeps full
    // per-value sensitivity at any scale.
    "q43_data_raw_roundtrip" -> ((s, d) => {
      import graft.sources.datadb.{DataDb, DataDbFixture}
      // 1 MB splits: #tasks tracks data volume, not #sstables (6 here)
      DataDb.cells(s, DataDbFixture.ensureFiles(s, d),
          maxSplitBytes = Some(1L << 20))
        .groupBy("sstable_id")
        .agg(count(lit(1)).as("events"),
          sum(when(col("kind") === "CELL", 1L).otherwise(0L)).as("cells"),
          sum(when(col("kind") === "RANGE_TOMBSTONE_MARKER", 1L).otherwise(0L))
            .as("markers"),
          countDistinct("key").as("partitions"),
          sum(col("key") % ChkMod).as("keys_sum"),
          sum(col("clustering") % ChkMod).as("clustering_sum"),
          sum(col("timestamp_us") % ChkMod).as("ts_sum"),
          sum(col("ttl_s") % ChkMod).as("ttl_sum"),
          sum(col("local_deletion_time_s") % ChkMod).as("ldt_sum"),
          sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"),
          sum(when(col("is_expiring"), 1L).otherwise(0L)).as("expiring"),
          sum(when(col("is_counter"), 1L).otherwise(0L)).as("counters"),
          sum(when(col("is_live"), 1L).otherwise(0L)).as("live"),
          sum(col("size_bytes") % ChkMod).as("size_sum"))
        .orderBy("sstable_id")
    }),
    // REAL Cassandra big-format ('nb') Data.db roundtrip: parquet cells →
    // real UnfilteredSerializer encoding (delta-coded rows/cells/markers,
    // complex-column cells with paths, SerializationHeader in the
    // companion Statistics.db) → DSv2 parse with format=cassandra →
    // per-sstable aggregate. The oracle recomputes from parquet with the
    // representation mapping stated on CassandraDataFixture: deleted cells
    // read back with NO_TTL (-1), size_bytes is the cell VALUE length
    // (size_bytes % 61 by construction; 0 for valueless cells), counter
    // bits are column-type-level and not written. sstable ids map
    // nb-<gen>-big ↔ sst-<gen-1>.
    "q67_data_cassandra_roundtrip" -> ((s, d) =>
      cassandraDataRoundtrip(s, d, compressed = false)),
    // the same files chunk-compressed with LZ4 + a real CompressionInfo.db
    // chunk map: the reader maps the partition index's UNCOMPRESSED
    // offsets through the chunk table, CRC32-verifies and decompresses
    // every chunk — same oracle as q67, so the compressed path must be
    // byte-equivalent to the uncompressed one.
    "q68_data_compressed_roundtrip" -> ((s, d) =>
      cassandraDataRoundtrip(s, d, compressed = true)),
    // all four published Cassandra chunk codecs (LZ4/Snappy/Deflate/Zstd)
    // decoding through the production scan path, codec selected per file
    // from its own CompressionInfo.db header; rolled up per compressor.
    "q111_multi_codec_roundtrip" -> ((s, d) => multiCodecRoundtrip(s, d)),
    // intra-partition split planning: 8 huge partitions per sstable, split
    // size << one partition's span — ranges start MID-PARTITION at
    // promoted-index block boundaries (through the LZ4 chunk table) and
    // every event still surfaces exactly once.
    "q112_wide_partition_roundtrip" -> ((s, d) =>
      widePartitionRoundtrip(s, d)),
    // the big-format POINT-READ path composed from the real components
    // (bloom -> summary -> index -> single-partition chunked decode);
    // probes every key%7==0 key AND its absent negation across all
    // sstables of the compressed set
    "q114_point_get" -> ((s, d) => PointGet.pointGet(s, d)),
    // clustering-slice reads: only promoted-index blocks whose stored
    // clustering bounds overlap the slice are decoded — blocks_scanned is
    // itself oracle-replayed, so block SELECTION is hash-checked
    "q115_slice_read" -> ((s, d) => SliceGet.sliceRead(s, d)),
    // the q114 access path at PLANNING time (round 10): pushed
    // partition-key IN filters prune whole files via Filter.db blooms and
    // narrow survivors to single-partition byte ranges via Index.db
    // before any task exists — a DataFrame point query costs O(partition)
    // I/O per surviving file. Probes every key%1009==0 key plus its
    // absent negation through spark.read...where(key IN ...); the oracle
    // replays the surviving relation from parquet (absent keys contribute
    // nothing — bloom FPs die at the index, pruning is provably strict).
    "q159_scan_point_pushdown" -> ((s, d) => {
      import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
      val path = CassandraDataFixture.ensureFiles(s, d, compressed = true)
      val keyBytes = probeKeyBytes(s, d)
      DataDb.read(s, path, maxSplitBytes = Some(cassSplitBytes(path)),
          format = DataDbScan.FormatCassandra)
        .where(col("key").isin(keyBytes: _*))
        .select(graft.sources.BinaryKeys.beLong(col("key")).as("key"),
          col("clustering"), col("timestamp_us"), col("size_bytes"))
        .groupBy("key")
        .agg(count(lit(1)).as("events"),
          sum(col("clustering") % ChkMod).as("clustering_sum"),
          sum(col("timestamp_us") % ChkMod).as("ts_sum"),
          sum(col("size_bytes") % ChkMod).as("value_sum"))
        .orderBy("key")
    }),
    // the q115 SLICE path at PLANNING time (round 10): a pushed key
    // equality + clustering range narrows each surviving partition to the
    // contiguous run of promoted-index blocks overlapping the range —
    // over the wide set (8 huge partitions/sstable, thousands of blocks),
    // the plan reads a few blocks per file instead of a 1/8-file
    // partition. The relation is the plain slice filter (residual exact);
    // block economy is spec-pinned via the planned InputPartitions.
    "q160_scan_slice_pushdown" -> ((s, d) => {
      import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
      val path = CassandraDataFixture.ensureWideFiles(s, d)
      val kb = java.nio.ByteBuffer.allocate(8).putLong(3L).array()
      DataDb.read(s, path, maxSplitBytes = Some(cassSplitBytes(path)),
          format = DataDbScan.FormatCassandra)
        .where(col("key") === kb &&
          col("clustering") >= 1200L && col("clustering") <= 2800L)
        .withColumn("sstable_id",
          concat(lit("sst-"),
            (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
              .cast("long") - 1L).cast("string")))
        .groupBy("sstable_id")
        .agg(count(lit(1)).as("events"),
          sum(col("clustering") % ChkMod).as("clustering_sum"),
          sum(col("timestamp_us") % ChkMod).as("ts_sum"),
          sum(col("size_bytes") % ChkMod).as("value_sum"))
        .orderBy("sstable_id")
    }),
    // q159's probe list as a JOIN instead of literals (round 11): the
    // probe TABLE realizes at runtime, Spark's dynamic pruning hands the
    // realized key set to the scan's SupportsRuntimeFiltering hook, and
    // planInputPartitions (running after filter()) prunes to the same
    // O(partition) point ranges the static pushdown plans — the
    // 100k-key batch point-read shape where an isin literal list stops
    // being a plan. Join semantics keep the relation exact regardless;
    // the planning economy is spec-pinned. Shares q159's oracle (present
    // keys only — a join drops the absent side).
    "q165_scan_runtime_point" -> ((s, d) => {
      import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
      val path = CassandraDataFixture.ensureFiles(s, d, compressed = true)
      val probes = graft.sources.Tables.lineitem(s, d)
        .select(col("l_orderkey").as("pk")).where(col("pk") % 1009 === 0)
        .distinct()
        .select(graft.sources.BinaryKeys.beLongBytes(col("pk")).as("key"))
      DataDb.read(s, path, maxSplitBytes = Some(cassSplitBytes(path)),
          format = DataDbScan.FormatCassandra)
        .join(broadcast(probes), "key")
        .select(graft.sources.BinaryKeys.beLong(col("key")).as("key"),
          col("clustering"), col("timestamp_us"), col("size_bytes"))
        .groupBy("key")
        .agg(count(lit(1)).as("events"),
          sum(col("clustering") % ChkMod).as("clustering_sum"),
          sum(col("timestamp_us") % ChkMod).as("ts_sum"),
          sum(col("size_bytes") % ChkMod).as("value_sum"))
        .orderBy("key")
    }),
    // REAL Filter.db bloom membership: every present partition key probed
    // through the Cassandra murmur3-x64-128 / OffHeapBitSet layout MUST
    // hit (bloom filters have no false negatives) — found == partitions,
    // both recomputed by the oracle from parquet.
    "q69_bloom_membership" -> ((s, d) => Integrity.bloomMembership(s, d)),
    // Digest.crc32 verification across both fixture variants (stored
    // bytes: plain + LZ4-chunked): recomputed CRC32 == sidecar value for
    // all 12 files.
    "q70_digest_verify" -> ((s, d) => Integrity.digestVerify(s, d)),
    // REAL CRC.db (per-chunk CRC32s of the uncompressed Data.db at the
    // sidecar's stored chunk size) verified element-wise per sstable.
    "q87_crc_verify" -> ((s, d) => Integrity.crcVerify(s, d)),
    // the row-level metadata of the real format surfaced as typed events
    // (static rows, pk liveness, row deletions, complex-column deletions)
    // over the feature-variant set — closes the README "parsed but not
    // emitted" gap; the oracle replays the variant's deterministic model
    "q110_row_level_events" -> ((s, d) => Integrity.rowLevelEvents(s, d)),
    // complex STATIC columns through the real row codec (the last
    // row-codec rejection, closed): static multi-cell map column with
    // path-ordered cells and static complex deletions, per-column
    // modular sums against the oracle's replay of the variant's model
    "q129_static_complex_roundtrip" ->
      ((s, d) => Integrity.staticComplexEvents(s, d)),
    // shadowing-aware purge: PARTITION_DELETION consumed as SEMANTICS —
    // cells with ts <= markedForDeleteAt are reclaimable, the fixture's
    // deletion timestamps bisect each deleted partition
    "q121_shadowed_purge" -> ((s, d) => Integrity.shadowedPurge(s, d)),
    // REAL Summary.db (IndexSummarySerializer layout, LE offsets/positions
    // in a BE header) roundtrip + cross-component check: every summary
    // entry must point at the Index.db entry holding the same key.
    "q76_summary_roundtrip" -> ((s, d) => Integrity.summaryRoundtrip(s, d)),
    // REAL promoted (row) index: RowIndexEntry/IndexInfo layout parsed
    // back per partition, blocks proven to tile the partition byte range
    // (tiled_ok == indexed), boundaries oracle-recomputed from parquet.
    "q79_row_index" -> ((s, d) => Integrity.rowIndex(s, d)),
    // the ENTIRE cfstats totals pipeline off REAL-format COMPRESSED
    // sstables: row codec + chunk decompression + partition-boundary
    // splits feeding the unchanged partitionScan → partitions → totals
    // lineage; every consumed field round-trips exactly, so q44's oracle
    // derivation applies verbatim. Derived scan cached per session like
    // the other raw families (one binary pass per session).
    "q71_cfstats_from_cassandra" -> ((s, d) => {
      import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
      val path = CassandraDataFixture.ensureFiles(s, d, compressed = true)
      CfStats.totalsOf(
        graft.sources.PlanCache.cached(s, s"cass_parts|$path")(
          graft.sources.Fixtures.partitions(
            graft.sources.PlanCache.cached(s, s"cass_pscan|$path")(
              graft.sources.Fixtures.partitionScan(
                DataDb.cells(s, path,
                  maxSplitBytes = Some(cassSplitBytes(path)),
                  format = DataDbScan.FormatCassandra))))))
    }),
    // the ENTIRE cfstats pipeline (partitionScan → partitions → totals)
    // running off raw binary Data.db files instead of parquet fixtures;
    // shares q15's oracle derivation from parquet.
    "q44_cfstats_from_raw" -> ((s, d) => {
      import graft.sources.datadb.{DataDb, DataDbFixture}
      // the derived per-(sstable, partition) scan is cached exactly like the
      // parquet family's li_pscan (PlanCache): one streaming pass over the
      // raw files per session — the reference's contract — with every
      // cfstats report derived from the small persisted view, never from a
      // re-parse. Raw cells themselves are deliberately NOT cached (at real
      // scale they are the 100 TB input; the derived scan is orders of
      // magnitude smaller).
      val path = DataDbFixture.ensureFiles(s, d)
      CfStats.totalsOf(
        graft.sources.PlanCache.cached(s, s"raw_parts|$path")(
          graft.sources.Fixtures.partitions(
            graft.sources.PlanCache.cached(s, s"raw_pscan|$path")(
              graft.sources.Fixtures.partitionScan(
                DataDb.cells(s, path, maxSplitBytes = Some(1L << 20)))))))
    }),
    // sstable_meta fixture → binary Statistics.db files → DSv2 parse; the
    // oracle recomputes the metadata rollup from parquet, so every field of
    // every component in the TOC-addressed binary encoding hash-matches.
    "q46_stats_raw_roundtrip" -> ((s, d) => {
      import graft.sources.statsdb.{StatsDb, StatsDbFixture}
      StatsDb.read(s, StatsDbFixture.ensureFiles(s, d))
        .select("keyspace", "tbl", "sstable_id", "partition_count",
          "uncompressed_length", "max_partition_size", "cell_count",
          "min_timestamp_us", "max_timestamp_us", "disk_length",
          "avg_partition_size", "level", "is_repaired", "repaired_at_ms",
          "compaction_strategy", "file_timestamp_ms",
          "min_local_deletion_time_s", "max_local_deletion_time_s",
          "estimated_keys", "avg_column_count", "max_column_count",
          "droppable_tombstone_count", "droppable_ratio_x1000")
        .orderBy("sstable_id")
    }),
    // REAL-format Statistics.db (Cassandra "nb" MetadataSerializer envelope
    // + ValidationMetadata + StatsMetadata component encodings,
    // CassandraStatsFormat): fixture derives every field from the
    // sstable_meta parquet, writes genuine-layout binary, the DSv2 parses
    // it back (CRC-verified, TOC-skipped COMPACTION/HEADER), and the oracle
    // recomputes each field — incl. the EstimatedHistogram max/ceil-mean
    // semantics and the trapezoid droppable-tombstone estimate at gcBefore —
    // straight from parquet.
    "q62_stats_real_format" -> ((s, d) => {
      import graft.sources.statsdb.{CassandraStatsFixture, StatsDb}
      StatsDb.readCassandra(s, CassandraStatsFixture.ensureFiles(s, d),
          graft.sources.Fixtures.GcBeforeS)
        .orderBy("generation")
    }),
    // big-format version "oa" (Cassandra 5) Statistics.db: the
    // version-gated StatsMetadata tail — originatingHostId (4.1+),
    // partition-level-deletions marker, first/last key range, token-space
    // coverage (5.0) — roundtripped through version-aware encode/parse;
    // base fields ride along proving the pre-tail layout is unshifted.
    "q77_stats_oa_tail" -> ((s, d) => {
      import graft.sources.statsdb.{CassandraStatsFixture, StatsDb}
      StatsDb.readOaTail(s, CassandraStatsFixture.ensureOaFiles(s, d))
    }),
    // "oa"'s improved min/max: the covered-clustering slice written IN
    // PLACE of the legacy min/max blob lists — kind ordinals, flag-header
    // NULL/EMPTY components, vint-length values; green proves the version
    // gate switches the StatsMetadata field order correctly
    "q100_stats_oa_slice" -> ((s, d) => {
      import graft.sources.statsdb.{CassandraStatsFixture, StatsDb}
      StatsDb.readOaSlice(s, CassandraStatsFixture.ensureOaFiles(s, d))
    }),
    // REAL-format CompressionInfo.db (Cassandra CompressionMetadata
    // layout): the chunk-offset map parsed per chunk row; per-chunk
    // compressed sizes from the S4-style lead() offset delta; data_length
    // is the uncompressed Data.db length the reference consumes
    // (CassandraBackend.java:107). Oracle regenerates the chunk series and
    // prefix-sum offsets from parquet.
    "q64_compression_info" -> ((s, d) => {
      import graft.sources.compressioninfo.{CassandraCompressionFixture, CompressionInfo}
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("generation").orderBy("chunk_index")
      CompressionInfo.read(s, CassandraCompressionFixture.ensureFiles(s, d))
        .withColumn("csize",
          lead("chunk_offset", 1).over(w) - col("chunk_offset"))
        .groupBy("generation")
        .agg(
          min("compressor").as("compressor"),
          min("chunk_length").as("chunk_length"),
          min("data_length").as("data_length"),
          count(lit(1)).as("chunk_count"),
          sum(col("chunk_offset") % ChkMod).as("offsets_sum"),
          sum(col("csize") % ChkMod).as("csize_sum"),
          min("csize").as("min_csize"),
          max("csize").as("max_csize"))
        .orderBy("generation")
    }),
    // the summary command's A11 rollup running off raw Statistics.db files
    // instead of the fixture view; shares q05's oracle derivation.
    "q47_summary_from_raw" -> ((s, d) => {
      import graft.sources.statsdb.{StatsDb, StatsDbFixture}
      StatsDb.summaryRollup(s, StatsDbFixture.ensureFiles(s, d))
    }),
    // summary / sstables
    "q05_summary" -> ((s, d) => Summary.rollup(s, d)),
    "q06_sstables_meta" -> ((s, d) => Summary.sstablesReport(s, d)),
    "q34_sstables_strategy_order" -> ((s, d) => Summary.strategyOrders(s, d)),
    // cfstats
    "q07_cfstats_rows_dist" -> ((s, d) => CfStats.rowsDistribution(s, d)),
    "q08_cfstats_cells_dist" -> ((s, d) => CfStats.cellsDistribution(s, d)),
    "q09_cfstats_tomb_dist" -> ((s, d) => CfStats.tombstonesDistribution(s, d)),
    "q10_cfstats_top_wide" -> ((s, d) => CfStats.topWide(s, d)),
    "q11_cfstats_top_tombstones" -> ((s, d) => CfStats.topTombstones(s, d)),
    "q12_cfstats_top_deleted" -> ((s, d) => CfStats.topDeletedRows(s, d)),
    "q13_cfstats_ttl_hist" -> ((s, d) => CfStats.ttlHistogram(s, d)),
    "q14_cfstats_sstable_stats" -> ((s, d) => CfStats.sstableStats(s, d)),
    "q15_cfstats_totals" -> ((s, d) => CfStats.totals(s, d)),
    // purge
    "q16_purge_top" -> ((s, d) => Purge.top(s, d)),
    "q17_purge_totals" -> ((s, d) => Purge.totals(s, d)),
    // gc_grace parameterization (ColumnFamilyBackend.java:149,
    // PurgeStatisticBackend.java:47): the same reports at gc_grace = 500
    // days — gcBefore moves from fixture day 2500 to day 3500, so
    // droppable/reclaimable grow; both engines compute from the parameter.
    "q57_purge_gc_totals" -> ((s, d) => Purge.totals(s, d,
      gcBeforeS = graft.sources.Fixtures.gcBeforeFor(500L * 86400L))),
    "q58_cfstats_gc_totals" -> ((s, d) => CfStats.totals(s, d,
      gcBeforeS = graft.sources.Fixtures.gcBeforeFor(500L * 86400L))),
    // F1 on the purge path: the filter restricts the scan BEFORE the LWW
    // merge, so excluded sstables neither contribute size nor shadow.
    "q45_purge_filtered" -> ((s, d) =>
      Purge.top(s, d, 10, Seq("sst-1", "sst-3", "sst-5"))),
    // the purge pipeline (LWW merge + gc_grace purge + top-N) running off
    // raw binary Data.db files; shares q16's oracle derivation — with this,
    // all five reference commands are demonstrated end-to-end on raw files.
    "q48_purge_from_raw" -> ((s, d) => {
      import graft.sources.datadb.{DataDb, DataDbFixture}
      // per-partition purge aggregate cached like the parquet path's
      // "purge|dir" entry: one LWW-merge pass over the raw files per
      // session, top-N served from the persisted per-key view
      val path = DataDbFixture.ensureFiles(s, d)
      graft.sources.PlanCache.cached(s, s"raw_purge|$path")(
          Purge.perPartition(
            DataDb.cells(s, path, maxSplitBytes = Some(1L << 20))))
        .select("key", "key_formatted", "table_count", "size", "reclaimable")
        .orderBy(desc("reclaimable"), desc("size"), asc("key"))
        .limit(10)
    }),
    // dedup
    "q20_dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    // the session-cached EXACT pair relation (the oracle form; the engine
    // default is the capped scale path, Dedup.DefaultMaxDocFreq) + the
    // presentation sort
    "q21_dedup_ngram" -> ((s, d) =>
      Dedup.ngramPairsExact(s, d).orderBy("id_a", "id_b")),
    "q22_dedup_minhash" -> ((s, d) => Dedup.minhashLsh(s, d)),
    // prefix-filtered exact similarity join (PPJoin principle): rare-
    // shingle prefixes generate candidates, exact verify — must equal
    // the all-pairs relation (shares q21's oracle)
    "q154_dedup_prefix" -> ((s, d) => Dedup.prefixPairs(s, d)),
    // sorted-neighborhood dedup: simhash-sorted sliding window (fixed
    // O(n·w) candidate budget), exact verify; blocking oracle-replayed
    "q155_dedup_snm" -> ((s, d) => Dedup.snmPairs(s, d)),
    // leakage-free split: dup-cluster-aware train/val assignment with
    // the cross-split dup-pair audit (0) recomputed by the oracle
    "q157_dedup_split" -> ((s, d) => Dedup.leakFreeSplit(s, d)),
    "q23_dedup_simhash" -> ((s, d) => Dedup.simhashCached(s, d)),
    "q33_dedup_embedding" -> ((s, d) => Dedup.embeddingNearDup(s, d)),
    // similarity search
    "q24_sim_topk" -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    "q25_sim_lsh_ann" -> ((s, d) => Similarity.lshTopK(s, d)),
    "q39_sim_ivf_ann" -> ((s, d) => Similarity.ivfTopK(s, d)),
    // text analysis
    "q26_text_quality" -> ((s, d) => TextStats.quality(s, d)),
    "q27_lang_dist" -> ((s, d) => TextStats.langDistribution(s, d)),
    "q28_token_totals" -> ((s, d) => TextStats.tokenTotals(s, d)),
    // bounded-state sketches: KMV distinct counting (the sketch IS the
    // oracle-exact answer) and Misra-Gries-pruned exact heavy hitters
    "q133_distinct_kmv" -> ((s, d) => Sketches.kmvDistinct(s, d)),
    "q134_heavy_hitters" -> ((s, d) => Sketches.heavyHitters(s, d)),
    // KMV set algebra: per-source-pair union/intersection/Jaccard
    // estimates from the O(k) sketches alone (exact NDVs alongside)
    "q138_sketch_setops" -> ((s, d) => Sketches.sketchSetOps(s, d)),
    "q29_doc_fingerprint" -> ((s, d) =>
      TextStats.fingerprint(graft.sources.Tables.documents(s, d))),
    "q35_subword_counts" -> ((s, d) =>
      TextStats.subwordCounts(graft.sources.Tables.documents(s, d))
        .orderBy("doc_id")),
    "q36_langid" -> ((s, d) =>
      TextStats.langId(graft.sources.Tables.documents(s, d))
        .orderBy("doc_id")),
    "q41_bpe_tokens" -> ((s, d) =>
      TextStats.bpeTokenCounts(graft.sources.Tables.documents(s, d))),
    // events
    "q30_events_hourly" -> ((s, d) => EventsOps.hourly(s, d)),
    "q31_events_sessions" -> ((s, d) => EventsOps.sessions(s, d)),
    // as-of join (union + ignore-nulls last() window — one shuffle)
    "q51_events_asof" -> ((s, d) => EventsOps.errorAsofClick(s, d)),
    // JSON property extraction over the props manifest column
    "q55_events_props_json" -> ((s, d) => EventsOps.propsRollup(s, d)),
    // interval (range) join as a bucketed equi-join: other-user events
    // inside the topN longest sessions' time spans, no cartesian plan
    "q136_events_range_join" -> ((s, d) => EventsOps.sessionRangeJoin(s, d)),
    // Z-order vs row-linear layout: per-box matched rows + files each
    // layout must read (Morton-bit bucket vs time-sorted bucket)
    "q140_events_zorder_skip" -> ((s, d) => Layout.zorderSkipping(s, d)),
    // hot-key salted join: fact salt + dim replication spreads the 50%
    // key across `salt` reducers; relation identical to the plain join
    "q141_events_skew_join" -> ((s, d) => Skew.saltedRollup(s, d)),
    // the end-to-end curation funnel: quality gate → dedup → benchmark
    // decontamination → token mass → packed-sequence yield, per source
    "q145_full_pipeline" -> ((s, d) => TextStats.fullPipeline(s, d)),
    // STCS compaction what-if: size tiers, candidate flags, reclaimable
    // tombstone mass per tier
    "q146_sstables_stcs" -> ((s, d) => Summary.stcsWhatIf(s, d)),
    // MERGE INTO (upsert/delete) corpus maintenance: one full-outer join,
    // per-source insert/update/delete/unchanged funnel + state checksums
    "q147_corpus_merge" -> ((s, d) => Dedup.corpusMerge(s, d)),
    // time travel: the state at v0/v1/v2 of a two-batch merge history,
    // pinned by per-version doc/char/checksum audits
    "q152_corpus_timetravel" -> ((s, d) => Dedup.corpusTimeTravel(s, d)),
    // ordered conversion funnel: K conditional-min aggregates, no
    // full-stream window
    "q148_events_funnel" -> ((s, d) => EventsOps.funnel(s, d)),
    // retention cohorts: first-day cohorts × (1,7]/(7,14]/(14,28] windows
    "q149_events_retention" -> ((s, d) => EventsOps.retention(s, d)),
    // TextRank keywords: integer-exact damped PageRank over the token
    // co-occurrence graph, 3 Pregel-style supersteps
    "q150_textrank" -> ((s, d) => TextStats.textRank(s, d)),
    // TTL expiry forecast: per-table 30-day reclaim windows with
    // cumulative byte mass — the capacity-planning view of A10
    "q158_cfstats_ttl_forecast" -> ((s, d) => CfStats.ttlForecast(s, d)),
    // mergeable log-histogram quantile sketch (DDSketch γ=2 family):
    // ≤64 counters per sstable, deterministic γ-bounded percentiles
    "q144_pstats_logq" -> ((s, d) => PStats.logQuantileSketch(s, d)),
    // CUBE: all four (event_type, day) granularities in one Expand pass
    "q142_events_cube" -> ((s, d) => EventsOps.cubeRollup(s, d)),
    // PIVOT: per-day wide counts over the pinned event-type enum
    "q143_events_pivot" -> ((s, d) => EventsOps.pivotDaily(s, d)),
    // fixed-size chunk dedup statistics (10-token chunks)
    "q52_chunk_dedup" -> ((s, d) => Dedup.chunkStats(s, d)),
    // corpus vocabulary top-K with total tiebreak
    "q53_vocab_topk" -> ((s, d) => TextStats.vocabTopK(s, d)),
    // connected components over the ngram near-dup pairs (min-label
    // propagation; oracle recomputes via a recursive CTE)
    "q56_dup_clusters" -> ((s, d) => Dedup.dupClusters(s, d)),
    // deterministic hash-stratified sampling rollup
    "q54_sample_stratified" -> ((s, d) => TextStats.sampleRollup(s, d)),
    // sequence packing (concat-and-chunk, two-level distributed prefix sum)
    "q60_pack_sequences" -> ((s, d) => TextStats.packSequences(s, d)),
    // benchmark-contamination detection via 5-gram overlap
    "q61_contamination" -> ((s, d) => TextStats.contamination(s, d)),
    // the scale form: fixed-size bloom prefilter (the Filter.db murmur3
    // bloom as a broadcast) + exact verify of survivors — identical
    // relation, ~99% of the verify-join exchange pruned
    "q116_contamination_bloom" -> ((s, d) =>
      TextStats.contaminationBloom(s, d)),
    // cluster-balanced subsample over the trained k-means clusters:
    // uniform reproducible slice of EVERY cluster (hash-ranked window)
    "q117_cluster_sample" -> ((s, d) => Similarity.clusterSample(s, d)),
    // embedding-space drift: base/incoming populations per trained
    // cluster, integer-exact share shift (the vector-side q96)
    "q153_sim_drift" -> ((s, d) => Similarity.embeddingDrift(s, d)),
    // IVF over the PERSISTED bucket-partitioned index: build once on
    // disk, query via dynamic partition pruning — identical relation to
    // the in-memory q89
    "q118_sim_ivf_persisted" -> ((s, d) =>
      Similarity.ivfSearchPersisted(s, d)),
    // product quantization + asymmetric-distance top-k: per-subspace
    // codebooks (q88's exact Lloyd's rules), narrow m-argmin encoding,
    // per-query literal m×k lookup tables — integer-exact, so training,
    // encoding AND the ADC scores all replay in the oracle
    "q130_sim_pq_adc" -> ((s, d) => Similarity.pqSearch(s, d)),
    // IVF-PQ (IVFADC): coarse quantizer prunes to the probed buckets,
    // RESIDUAL product codes score via per-bucket ADC tables — the
    // composition a production vector store runs; training, residual
    // encoding and every score replay in the oracle
    "q131_sim_ivfpq" -> ((s, d) => Similarity.ivfPqSearch(s, d)),
    // IVF-PQ over the PERSISTED code index (8 B id + 4 code bytes per
    // candidate, bucket-partitioned): the probed buckets are known
    // before the scan, so only their files are read — identical
    // relation to the in-memory q131
    // scalar quantization (SQ8): per-dim 8-bit grid, dequantized-cosine
    // shortlist, exact-dot re-rank
    "q135_sim_sq8" -> ((s, d) => Similarity.sq8TopK(s, d)),
    // sharded HNSW graphs (partition-local build, parallel beam search,
    // per-query merge) — beam sized for exact recall at gated scales
    "q137_sim_hnsw" -> ((s, d) => Hnsw.hnswTopK(s, d)),
    // HNSW over the PERSISTED shard-partitioned adjacency: build once on
    // disk, reload each shard graph exactly — identical relation to q137
    "q139_sim_hnsw_persisted" -> ((s, d) => Hnsw.hnswSearchPersisted(s, d)),
    // incremental ingest as a CORRECTNESS claim: half the corpus built,
    // half inserted through the micro-batch kernel, searched — id-monotone
    // arrival makes the evolved index bit-equal to a full build, so this
    // shares q24's brute-force oracle (a mis-routed shard or broken
    // reload hash-mismatches the gate)
    "q161_sim_hnsw_ingest" -> ((s, d) => Hnsw.hnswIngestedTopK(s, d)),
    // REAL compaction end to end: real sstables → production scan → LWW
    // merge + gc_grace purge → DSv2 sstable sink (key%4-sharded outputs)
    // → production scan again → rollup. The full read→merge→write→read
    // circle over the real codec; the oracle replays the merge from
    // parquet under the scan's representation mapping.
    "q162_compaction_roundtrip" -> ((s, d) =>
      Compaction.compactionRoundtrip(s, d)),
    // DELETION-SHADOWING compaction executed end to end (round 11): the
    // feature set's partition/row/complex deletions consumed as
    // semantics — shadowed data removed, superseded/gc-expired
    // tombstones purged, survivors WRITTEN back as real feature-schema
    // sstables and re-read through the production scan, at two gc
    // cutoffs that bisect every deletion type's retention branch
    "q164_feature_compaction" -> ((s, d) =>
      FeatureCompaction.roundtrip(s, d)),
    // the same deletion-shadowing compaction through CO-PARTITIONED
    // shuffle-hash joins instead of broadcasts (round 13) — the
    // deletion-HEAVY scale fallback, where a dense deletion set would
    // blow the broadcast threshold; must reproduce q164's relation
    // exactly (same oracle)
    "q169_feature_compaction_copart" -> ((s, d) =>
      FeatureCompaction.roundtrip(s, d, copartitioned = true)),
    // SIZE-TIERED MINOR compaction executed end to end (round 13): the
    // selection problem — tier by modeled size, compact only tiers with
    // enough members, pass everything else through untouched, and purge
    // droppable tombstones ONLY where no non-participating sstable holds
    // the key (the conservative rule that makes minor compaction safe).
    // Merged tiers are written as real sstables and read back; the
    // oracle replays tiering, selection, per-tier LWW, the purge guard
    // and both rollup halves from parquet
    "q171_minor_compaction" -> ((s, d) =>
      graft.ops.MinorCompaction.roundtrip(s, d)),
    // STCS RE-INGESTION (round 14; W11's size-tiered twin): the q171
    // compacted state re-enters the strategy's own size ladder off its
    // REAL files — the small tiers' merge lands in the passthrough's
    // size class and is SELECTED AGAIN (the cascade: STCS walks data up
    // the ladder across successive minors), the big merge sits alone in
    // a higher class, stable
    "q186_minor_reingest" -> ((s, d) =>
      graft.ops.MinorCompaction.reingestTable(s, d)),
    // TWCS executed end to end (round 15, completing the strategy
    // trio): window assignment from each sstable's own Statistics.db
    // max timestamp, whole-sstable DROP of the unblocked fully-expired
    // file (q178's blocker relation made actionable — zero-I/O space
    // reclamation), the blocked one surviving, the ≥2-member newest
    // window LWW-merged into one real sstable, single-member windows
    // never re-compacted (the TWCS guarantee)
    "q188_twcs_compaction" -> ((s, d) =>
      graft.ops.TwcsCompaction.roundtrip(s, d)),
    // THREE-replica repair with the per-leaf DIRECTION MATRIX (round
    // 15): leaf-correlated divergence across 3 real replica sets, the
    // coordinator's source selection (lowest-indexed replica whose
    // merged leaf digest matches the union), one real streamed sstable
    // per (source→target) direction, and all three post-repair
    // re-digests converging on the union — per-leaf minimal streaming
    // (no leaf ships to a replica already holding it)
    "q189_repair_matrix" -> ((s, d) =>
      graft.ops.RepairMatrix.roundtrip(s, d)),
    // TWCS WHAT-IF (round 15; q146/q185's time-window twin): the
    // read-only decision table a TWCS operator reads before the next
    // cycle — window, expiry, blocker count, next action per sstable,
    // all O(#files) sidecar metadata
    "q190_twcs_whatif" -> ((s, d) =>
      graft.ops.TwcsCompaction.whatIf(s, d)),
    // TWCS RE-INGESTION (round 15; q186/q175's time-window twin): the
    // compacted state re-enters the decision table off its real files
    // and is STABLE — every live window single-member (nothing to
    // compact: TWCS's steady state), the dropped file gone, the
    // blocked candidate still blocked
    "q191_twcs_reingest" -> ((s, d) =>
      graft.ops.TwcsCompaction.reingestTable(s, d)),
    // the MATRIX session's closing act (round 15; q184's N-replica
    // twin): all three converged replicas stamped repairedAt, after
    // which the incremental digest reads NOTHING on any of them —
    // detect, stream per the matrix, converge, mark, never re-verify
    "q192_repair_matrix_mark" -> ((s, d) =>
      graft.ops.RepairMatrix.markCycle(s, d)),
    // STANDING streaming STCS size ladder (round 15, the third
    // oracle-checked streaming query): per-sstable modeled volume as a
    // complete-mode standing aggregate over arriving sstables, tier +
    // selection derived from the standing state — continuous
    // compaction planning ("which tier compacts next" always current)
    "q193_streaming_tiers" -> ((s, d) =>
      graft.streaming.StreamingStats.tierLadderOnce(s, d)),
    // MULTI-SOURCE merge repair (round 15): uniform divergence — every
    // replica missing a sliver of EVERY leaf — defeats single-source
    // selection, so the plan fans out to ALL other replicas per needy
    // leaf and the destination's merge assembles the union (Cassandra's
    // merge-on-arrival streaming model); the q189 minimal rule still
    // applies wherever a complete source exists
    "q194_repair_multisource" -> ((s, d) =>
      graft.ops.RepairMultiSource.roundtrip(s, d)),
    // STANDING TWCS window frontier (round 15, the fourth oracle-
    // checked streaming query; q193's time-window sibling): per-sstable
    // max timestamp + max deletion time as complete-mode state, window
    // assignment and expiry verdicts derived from the standing state —
    // continuous compaction planning for the third strategy
    "q195_streaming_windows" -> ((s, d) =>
      graft.streaming.StreamingStats.windowFrontierOnce(s, d)),
    // the STEADY-STATE repair loop (round 15): a fully-marked node
    // receives one fresh flush, the next incremental digest reads
    // EXACTLY the flush (every marked file pruned at planning time —
    // verification cost tracks NEW data, not corpus size), then the
    // flush marks and the digest returns to zero
    "q196_incremental_loop" -> ((s, d) =>
      graft.ops.Repair.incrementalLoop(s, d)),
    // TWCS with IN-WINDOW STCS (round 16, VERDICT r15 ask #3): the
    // composed regime real TWCS runs — window assignment from sidecar
    // max timestamps, then the STCS size ladder INSIDE each window;
    // only a ≥2-member (window, tier) group merges, so the newest
    // window's two small flushes compact tier-by-tier while the big
    // flush sharing the window passes through untouched
    "q197_twcs_stcs" -> ((s, d) =>
      graft.ops.TwcsStcsCompaction.roundtrip(s, d)),
    // the WATERMARK path under a controlled 3-batch arrival order
    // (round 16, VERDICT r15 ask #4): the first oracle-checked query
    // whose answer hangs on late-data DROP/KEEP decisions — a late
    // sliver inside the 2-hour watermark folds into its open window, a
    // later sliver outside it is dropped, and append mode emits exactly
    // the windows the final watermark has passed
    "q198_streaming_watermark" -> ((s, d) =>
      graft.streaming.StreamingStats.watermarkReplayOnce(s, d)),
    // PRIMARY-RANGE repair (round 16, VERDICT r15 ask #6): nodetool
    // repair -pr — each replica coordinates only the token leaves it
    // is primary for (leaf mod 3), the per-owner plans PARTITION the
    // ring, and their union reproduces the full q189 matrix coverage —
    // the rule that keeps an N-node full-cluster repair from doing N×
    // the verification work
    "q199_repair_primary_range" -> ((s, d) =>
      graft.ops.RepairMatrix.primaryRange(s, d)),
    // sstableupgrade executed (round 16, VERDICT r15 ask #7): the 'nb'
    // -> 'oa' big-format version rewrite — components carried, the
    // legacy min/max clustering lists re-encoded as the 'oa' covered
    // slice, the version-gated tail filled from the sstable's own
    // Summary.db + token span, Data.db byte-untouched, and the
    // upgraded set event-identical through the production scan
    "q200_sstable_upgrade" -> ((s, d) =>
      graft.ops.SstableUpgrade.roundtrip(s, d)),
    // sstablescrub executed (round 16): one partition of one file
    // corrupted byte-for-byte; the Digest.crc32 verdict flags the file,
    // the salvage re-reads it PARTITION BY PARTITION off the Index.db
    // boundaries (decode failure or key cross-check mismatch -> skip),
    // and the survivors are rewritten as real sstables and re-read
    // through the production scan
    "q201_sstable_scrub" -> ((s, d) =>
      graft.ops.Scrub.roundtrip(s, d)),
    // training-mixture construction (round 16): capped inverse-sqrt
    // source re-balancing (the multilingual exponent-smoothing rule at
    // alpha=1/2 anchored at the corpus head) with deterministic
    // hash-threshold selection — reproducible, shard-stable, no corpus
    // shuffle; per-source raw volume, smoothed rate, kept counts + id
    // checksum
    "q202_source_mix" -> ((s, d) =>
      graft.ops.Mixing.sourceMix(s, d)),
    // the UPSAMPLING half of mixture construction (round 16): each
    // source repeats toward a uniform exposure target (min(4,
    // 2*Tmax/Ts) epochs) through a real generator; fractional epochs
    // materialize per document by hash threshold — the "repeat the
    // small curated sources a few epochs" move every pretraining
    // mixture applies
    "q203_source_epochs" -> ((s, d) =>
      graft.ops.Mixing.sourceEpochs(s, d)),
    // sstableofflinerelevel executed (round 16): rebuild a leveled
    // hierarchy OFFLINE from the flat level-reset state — first-fit
    // over start-sorted ranges extracts non-overlapping runs (the LCS
    // level invariant), the fullest run lands deepest, every
    // Statistics.db rewritten metadata-only, levels re-read from the
    // rewritten sidecars and re-checked disjoint
    "q204_offline_relevel" -> ((s, d) =>
      graft.ops.OfflineRelevel.roundtrip(s, d)),
    // EVENT-TIME session windows via the native session_window
    // aggregate (round 16): one row per (user, session) with the bounds
    // Spark assigns (end = last event + the 30-minute gap) — the
    // per-session grain q31's composed islands form rolls away; the
    // SAME aggregate runs as a streaming query with cross-batch session
    // state merging (spec-pinned)
    "q205_session_windows" -> ((s, d) =>
      graft.ops.EventsOps.sessionWindows(s, d)),
    // UNIFIED compaction executed (round 16, Cassandra 5's UCS): levels
    // are token-span-normalized DENSITY classes (a full-ring flush and
    // a quarter-ring shard of equal bytes sit two levels apart at fan
    // factor 4); level 0 runs the tiered T4 rule, levels >= 1 the
    // leveled rule over token-span OVERLAP ISLANDS (disjoint dense
    // sstables are correctly left alone); merge outputs split at the
    // FIXED ring-quarter shard boundaries so later compactions stay
    // shard-local — the strategy that subsumes STCS/LCS/sharding
    "q206_ucs_compaction" -> ((s, d) =>
      graft.ops.UnifiedCompaction.roundtrip(s, d)),
    // sstableloader executed (round 16): the q206 set streams into a
    // 4-node RF=2 ring — per (node, owned quarter) the plan's source
    // fan-in (span-intersection metadata), the received events/digest
    // off the node's REAL streamed sstable, corpus equality, and the
    // holder count (replication IS duplication: each event lands on
    // exactly RF nodes)
    "q207_bulk_load" -> ((s, d) =>
      graft.ops.BulkLoad.roundtrip(s, d)),
    // streaming dedup state under the oracle (round 16): a
    // republication whose key's dedup state is LIVE drops; the same
    // key republished after watermark eviction RE-EMITS at its new
    // event time — dropDuplicatesWithinWatermark's contract, measured
    // under q198's controlled one-file-per-micro-batch arrival
    "q208_streaming_dedup" -> ((s, d) =>
      graft.streaming.StreamingStats.dedupReplayOnce(s, d)),
    // sstablerepairedset --is-unrepaired executed (round 16): the
    // byte-exact metadata rewrite run in REVERSE — repairedAt stamps
    // withdrawn (sentinel 0) from half the fully-marked node, and the
    // next incremental digest re-reads exactly the reset files (the
    // operator's recovery lever when a repair session must be undone)
    "q209_repairedset" -> ((s, d) =>
      graft.ops.Repair.repairedSetRoundtrip(s, d)),
    // sstabledowngrade executed (round 16, q200's inverse): 'oa' files
    // rewritten back to 'nb' — the covered slice's blobs become the
    // legacy min/max lists again, the versioned tail drops, and the
    // FULL CYCLE (nb -> oa -> nb) reproduces the original
    // Statistics.db bit-for-bit; scans stay event-identical
    "q210_sstable_downgrade" -> ((s, d) =>
      graft.ops.SstableDowngrade.roundtrip(s, d)),
    // UCS re-ingestion (round 16, the strategy trio's convergence
    // proof extended to UCS): the compacted state re-enters the
    // density ladder off its REAL files and is STABLE — the level-0
    // merge's quarter shards re-classify one level up but never
    // overlap, the island output joins the dense top level disjoint
    // from the originals, and no group selects: UCS's bounded
    // write-amplification, demonstrated on its own outputs
    "q211_ucs_reingest" -> ((s, d) =>
      graft.ops.UnifiedCompaction.reingestTable(s, d)),
    // nodetool cleanup executed (round 16): the ring doubles, each old
    // node REWRITES its loaded sstable without the two eighths it no
    // longer replicates — retained views digest-match the corpus per
    // eighth and PARTITION the ring (each eighth held by exactly one
    // old node), dropped volume accounted per node
    "q212_cleanup" -> ((s, d) =>
      graft.ops.Cleanup.roundtrip(s, d)),
    // node bootstrap executed (round 16, the topology change's other
    // half): each new odd-position node streams its two eighths from
    // its ring predecessor as one real sstable; the cleaned old views
    // + bootstrapped new views CONVERGE to a full RF=2 ring — every
    // eighth on exactly two nodes, every view digest-matching the
    // corpus
    "q213_bootstrap" -> ((s, d) =>
      graft.ops.Bootstrap.roundtrip(s, d)),
    // sstablepartitions (round 16, Cassandra 4.1's threshold report):
    // per sstable, the partitions crossing the size / cell / tombstone
    // thresholds with the dimensions that flagged each — the filter
    // prunes before any ordering, so the report costs one pass at any
    // corpus size
    "q214_sstable_partitions" -> ((s, d) =>
      graft.ops.PStats.largePartitions(s, d)),
    // transformWithState under the oracle (round 16): Spark 4's
    // arbitrary-state API (user-defined ValueState on the RocksDB
    // provider) as a standing per-event-type running total — one
    // emitted row per (key, micro-batch), the cross-batch state
    // evolution replayed in SQL as window sums over the controlled
    // arrival
    "q215_transform_with_state" -> ((s, d) =>
      graft.streaming.StreamingStats.transformWithStateOnce(s, d)),
    // nodetool garbagecollect executed (round 16): the single-sstable
    // compaction — every file rewrites ALONE (within-file LWW
    // shadowing; cross-file duplicates deliberately untouched), a
    // droppable tombstone winner purges only when NO other file may
    // hold its key, and the per-file reclaim split is read back off
    // the real rewritten bytes
    "q216_garbage_collect" -> ((s, d) =>
      graft.ops.GarbageCollect.roundtrip(s, d)),
    // nodetool decommission executed (round 16, the topology family's
    // shrink side): node 3 leaves and streams each held quarter to its
    // NEW replica from its own real file (one sstable per direction);
    // the 3-node ring restores RF=2 — only the departing node's
    // neighbors receive anything, node 1 is untouched
    "q217_decommission" -> ((s, d) =>
      graft.ops.Decommission.roundtrip(s, d)),
    // nodetool removenode executed (round 16): the DEAD-node shrink —
    // node 3 cannot stream, so each under-replicated quarter
    // re-replicates survivor→survivor from its one remaining live
    // replica (quarter 2: node 2 → 0; quarter 3: node 0 → 2); the
    // converged ring matches q217's but every stream source is a
    // survivor, never the dead node's file
    "q218_remove_node" -> ((s, d) =>
      graft.ops.RemoveNode.roundtrip(s, d)),
    // nodetool move executed (round 16): node 1's token shifts one
    // eighth — gained ranges STREAM from the minimal pre-move replica,
    // lost ranges are CLEANED away locally (no network), and the
    // reshaped ring keeps every eighth at exactly RF=2 holders
    "q219_move" -> ((s, d) =>
      graft.ops.Move.roundtrip(s, d)),
    // the topology family at VNODE granularity (round 17): 16
    // interleaved tokens, 4 per node — adjacent same-owner slots force
    // the real distinct-node replica walk; the loaded ring verifies
    // off real per-node received files, the oracle deriving the
    // replica table relationally from the token VALUES
    "q236_vnode_load" -> ((s, d) =>
      graft.ops.VnodeRing.loadRoundtrip(s, d)),
    // the vnode pending-ranges calculus: per range, full-ring replicas
    // vs survivor-ring replicas (ownership merges into the next
    // surviving token) and the gainer — the engine's iterative Scala
    // walk hash-compared against the oracle's SQL walk
    "q237_vnode_pending" -> ((s, _) =>
      graft.ops.VnodeRing.pendingReport(s)),
    // vnode decommission executed: node 3's 9 scattered replicated
    // ranges stream to gainers on ALL THREE survivors (the blast
    // radius single-token rings cannot show); retained + streamed-in
    // views digest-verify per range at RF=2 holders
    "q238_vnode_decommission" -> ((s, d) =>
      graft.ops.VnodeRing.decommissionRoundtrip(s, d)),
    // the range-SPLITTING half of the vnode calculus (round 17): a new
    // node joins with 4 mid-range tokens, each splitting an existing
    // range; before/after replicas, pending transfers and cleanup debt
    // per half-range — Scala walk vs the oracle's SQL walk over the
    // before/after token sets
    "q241_vnode_split" -> ((s, _) =>
      graft.ops.VnodeBootstrap.splitReport(s)),
    // executed vnode bootstrap: the joiner streams each gained
    // half-range from that range's pre-join primary (real received
    // sstables, digest-verified per range against the corpus)
    "q242_vnode_bootstrap" -> ((s, d) =>
      graft.ops.VnodeBootstrap.roundtrip(s, d)),
    // zero-copy disposition in the PRODUCTION bootstrap stream (round
    // 18): source nodes hold range-sliced sstables (the per-node LCS
    // shape), the transfer request to each source is its pending
    // half-ranges — fully-requested sixteenth files HARD-LINK whole
    // (sixteenths 1/5/9/13), half-requested ones rewrite only the
    // pending half (2/6/10/14); per-half digests are transport-blind
    "q243_vnode_zero_copy" -> ((s, d) =>
      graft.ops.VnodeBootstrap.zeroCopyRoundtrip(s, d)),
    // the coverage plan itself: per sliced source file, occupied vs
    // requested half-ranges and the transport decision — engine
    // occupancy off the Summary.db sidecars vs the oracle's
    // corpus-derived occupancy, engine Scala walk vs the oracle's SQL
    // walk for the request set
    "q244_zero_copy_plan" -> ((s, d) =>
      graft.ops.VnodeBootstrap.zeroCopyPlanReport(s, d)),
    // the coverage-CONFIRM audit (round 19): per sliced file, the
    // sample-grid occupancy vs the Index.db-confirmed occupancy — the
    // oracle replays the MinIndexInterval sampling rule itself from the
    // corpus, so the summary codec's sample positions are oracle-pinned
    "q245_coverage_confirm" -> ((s, d) =>
      graft.ops.VnodeBootstrap.coverageConfirmReport(s, d)),
    // index-summary REDISTRIBUTION (round 19): Cassandra's
    // IndexSummaryManager memory-pressure downsampling — only the
    // Summary.db component rewrites (every other component hard-links),
    // resident entries halve per level, and the q114 point-read path
    // returns LEVEL-INVARIANT results through the real downsampled
    // files (the scan window grows; the answer cannot)
    "q246_summary_redistribution" -> ((s, d) =>
      graft.ops.SummaryRedistribution.report(s, d)),
    // DSIR importance-resampled data selection (round 19): hashed-unigram
    // bucket model, integer floor-log2 LLR table broadcast back onto the
    // token stream, deterministic top-K of the non-target pool by log
    // importance weight — the published pretraining data-selection step
    "q247_dsir_select" -> ((s, d) =>
      graft.ops.DataSelection.dsirSelect(s, d)),
    // zero-copy (entire-sstable) streaming (round 17): a range-sliced
    // source set, coverage decided per file off the Index.db sidecars
    // alone — fully-covered files HARD-LINK every component (zero rows
    // touched), the partial file rewrites only its requested ranges;
    // per-range digests off the received files are transport-blind
    "q239_zero_copy_stream" -> ((s, d) =>
      graft.ops.ZeroCopyStream.roundtrip(s, d)),
    // PQ-ADC + exact re-rank (round 17): the compressed codes shortlist
    // 40 candidates per query, the exact distance refines the shortlist
    // ONLY (O(shortlist) float rows per query at any corpus size), and
    // the final top-10 is exact-ordered — the refine stage that buys
    // back raw ADC's compression-floor recall
    "q240_sim_pq_rerank" -> ((s, d) =>
      graft.ops.Similarity.pqSearchRerank(s, d)),
    // stream-stream inner join under the oracle (round 16): symmetric
    // join state + watermark eviction under a controlled arrival — the
    // even cohort matches in-batch (30 min lag), the ≡1 (mod 4) cohort
    // joins live state late (90 min), and the ≡3 cohort arrives with
    // the SAME lateness after eviction and produces nothing
    "q220_stream_join" -> ((s, d) =>
      graft.streaming.StreamingStats.streamJoinReplayOnce(s, d)),
    // commitlog recovery executed (round 16): the corpus WAL parses
    // fail-closed (header + marker chain + per-entry CRCs), reconciles
    // LWW into memtable state (NO purge — recovery keeps tombstones),
    // flushes through the real sstable sink, and the production
    // re-scan rolls up to the oracle's replayed reconciliation
    "q221_commitlog_replay" -> ((s, d) =>
      graft.ops.CommitLog.replay(s, d)),
    // the per-segment commitlog report (round 16): append order,
    // div-rule segment/section cuts, sync-marker byte accounting and
    // CRC verification — read per segment, replayed by one window
    // cumulative sum in the oracle
    "q222_commitlog_segments" -> ((s, d) =>
      graft.ops.CommitLog.segments(s, d)),
    // point-in-time restore (round 16): the same replay bounded at the
    // restore point — mutations after it are discarded at parse-filter
    // time, before the reconcile exchange
    "q223_commitlog_pitr" -> ((s, d) =>
      graft.ops.CommitLog.pitr(s, d)),
    // CDC exactly-once resume (round 16): a checkpointed consumer
    // drains half the WAL, STOPS, and a new query resumes from the
    // same checkpoint — run 2 must emit exactly the remaining
    // segments (the first streaming-RESTART semantic under the oracle)
    "q224_cdc_resume" -> ((s, d) =>
      graft.ops.CommitLog.cdcResume(s, d)),
    // hinted handoff executed (round 16): the down node's
    // outage-window writes land as per-coordinator hint files (the
    // commitlog codec) and replay through the real sink on recovery —
    // retained + hinted views reassemble the full corpus, RF restored
    // without an anti-entropy pass
    "q225_hinted_handoff" -> ((s, d) =>
      graft.ops.Hints.roundtrip(s, d)),
    // nodetool rebuild executed (round 16): a second datacenter joins
    // at NTS RF=1 and streams each owned quarter from the quarter's
    // DC1 primary — the multi-DC verb; received views digest-equal the
    // corpus, each quarter held exactly once in the new DC
    "q226_rebuild" -> ((s, d) =>
      graft.ops.Rebuild.roundtrip(s, d)),
    // blocking read repair executed (round 16): per-read digest
    // mismatch detection off the real replica files, the per-replica
    // DIFF mutation (never the full partition) flushed through the
    // sink — the read cohort converges; partitions the workload never
    // read STAY divergent (what separates this from anti-entropy)
    "q227_read_repair" -> ((s, d) =>
      graft.ops.ReadRepair.roundtrip(s, d)),
    // the batchlog executed (round 16): interrupted multi-partition
    // batches survive as real log files and replay to completion —
    // LWW-reconciled state off the real files proves eventual
    // atomicity, idempotent over the partially-applied prefix
    "q228_batchlog" -> ((s, d) =>
      graft.ops.Batchlog.roundtrip(s, d)),
    // Merkle descent executed (round 16): the log-cost localization
    // real repair validation runs — a single-leaf divergence found by
    // visiting exactly 2·depth+1 of 127 tree nodes, matching subtrees
    // verified unvisited, the mismatch chain terminating in 'stream'
    "q229_merkle_descent" -> ((s, d) =>
      graft.ops.MerkleRepair.roundtrip(s, d)),
    // materialized view executed (round 16): the base's live cells
    // re-keyed by value into real view sstables (initial build +
    // write-path delta); a value query is a COVERED read — the view
    // key pushes down to bloom/index point ranges, the base is never
    // scanned — and must reproduce the base-side filter exactly
    "q230_materialized_view" -> ((s, d) =>
      graft.ops.MaterializedView.roundtrip(s, d)),
    // nodetool snapshot + restore executed (round 16): the hard-linked
    // snapshot (O(#files) metadata, zero bytes copied — sstable
    // immutability is what makes it free) reproduces the original
    // relation exactly after a major compaction replaced the live set
    "q231_snapshot_restore" -> ((s, d) =>
      graft.ops.Snapshot.roundtrip(s, d)),
    // lightweight transactions executed (round 16): per-partition
    // serial CAS chains (Paxos's documented contract — serial within
    // a partition, parallel across partitions) as a typed
    // flatMapGroups state machine; the oracle walks the same chains
    // with a recursive CTE
    "q232_cas_register" -> ((s, d) =>
      graft.ops.CasRegister.roundtrip(s, d)),
    // deterministic epoch shuffling (round 16): the dataloader's
    // reproducible pseudorandom order — hash-bucket batch assignment
    // per epoch (codegen projection, NO global sort), within-batch
    // position pinned by an order-weighted digest, epochs reshuffled
    "q233_epoch_shuffle" -> ((s, d) =>
      graft.ops.Mixing.epochShuffle(s, d)),
    // distributed counters (round 16): the 2.1+ cumulative-shard
    // model — per-sstable shards at the node's latest clock, the
    // max-clock merge winner per (cell, node), and the exactness
    // invariant (merged == plain delta sum) the naive shard-sum
    // would break by double counting
    "q234_counters" -> ((s, d) =>
      graft.ops.Counters.roundtrip(s, d)),
    // incremental backups executed (round 16): newly flushed sstables
    // hard-link into backups/ at flush time; restore = full snapshot
    // + the incremental links, reproducing base corpus + recovery
    // state with no second full copy ever taken
    "q235_incremental_backup" -> ((s, d) =>
      graft.ops.IncrementalBackup.roundtrip(s, d)),
    // LEVELED compaction executed end to end (round 13): level read
    // from Statistics.db, ranges from Summary.db, L0 merged with its
    // overlapping L1 partners, survivors re-partitioned by the replaced
    // partners' boundaries, disjoint L1 passthrough — and purge is
    // UNCONDITIONAL because leveled range-disjointness proves no other
    // sstable holds the touched keys (q171's contrast)
    "q172_leveled_compaction" -> ((s, d) =>
      graft.ops.LeveledCompaction.roundtrip(s, d)),
    // LCS RE-INGESTION (round 14): a SECOND leveled round over the first
    // round's real outputs + fresh L0 flushes (the original L0's events
    // re-written 1e9 µs later) + the untouched passthrough. The round-1
    // outputs classify as L1 purely from the level=1 their own
    // Statistics.db now carries — the proof the compaction's outputs
    // re-ingest into its own layout. Oracle replays BOTH rounds.
    "q175_leveled_reingest" -> ((s, d) =>
      graft.ops.LeveledCompaction.roundtrip2(s, d)),
    // ANTI-ENTROPY digests (round 13): Merkle-repair's comparison
    // primitive — layout-independent per-leaf content digests over real
    // files. The size-tiered re-binning of the same corpus must hash
    // leaf-identical to the base layout; the executed compaction's
    // output differs exactly where merge/purge touched (oracle
    // recomputes which leaves from parquet)
    "q173_antientropy_digest" -> ((s, d) =>
      graft.ops.AntiEntropy.roundtrip(s, d)),
    // INCREMENTAL-REPAIR marking (round 13): repairedAt stamped into
    // real Statistics.db files (metadata-only rewrite, header carried
    // verbatim), proven by re-reading BOTH the stats source (all
    // repaired at the stamped time) and the full production scan
    // (events unchanged — the rewritten stats still decode the data)
    "q174_mark_repaired" -> ((s, d) => graft.ops.Repair.roundtrip(s, d)),
    // RANGES-TO-STREAM (round 14): what nodetool repair produces from
    // differing Merkle leaves — base vs executed-compaction digests over
    // TOKEN ranges (portable-hash ring, 64 equal-width leaves), one row
    // per differing leaf with its [token_lo, token_hi] bounds. The
    // oracle recomputes which ranges merge/purge touched from parquet.
    "q176_antientropy_ranges" -> ((s, d) =>
      graft.ops.AntiEntropy.rangesToStream(s, d)),
    // INCREMENTAL digest (round 14): sstables whose own Statistics.db
    // says repaired are pruned at PLANNING time (sstable_id pushdown —
    // file-grain skip); the mixed set digests only its unrepaired half,
    // the fully-repaired set digests NOTHING — the point of repairedAt
    "q177_incremental_digest" -> ((s, d) =>
      graft.ops.AntiEntropy.incrementalRoundtrip(s, d)),
    // sstableexpiredblockers (round 14): over a TWCS-banded real set,
    // which live sstable BLOCKS which fully-expired sstable's drop —
    // expiry from Statistics.db maxLocalDeletionTime, overlap from
    // Summary.db ranges, age from min/max timestamps; O(#files) sidecar
    // metadata, zero data reads (the real tool's shape)
    "q178_expired_blockers" -> ((s, d) =>
      graft.ops.ExpiredBlockers.blockers(s, d)),
    // sstablesplit (round 14): the largest sstable rewritten as 4
    // size-targeted real sstables, partitions intact, consecutive in
    // key order (running-sum quarter assignment); shards read back from
    // the written files
    "q179_sstable_split" -> ((s, d) =>
      graft.ops.SstableSplit.roundtrip(s, d)),
    // sstablelevelreset (round 14): metadata-only level→0 rewrite of
    // the leveled set's Statistics.db (q174's byte-exact rewrite mold);
    // per-level counts flip {0:2,1:4}→{0:6}, events unchanged
    "q180_level_reset" -> ((s, d) =>
      graft.ops.LevelReset.roundtrip(s, d)),
    // STREAMING anti-entropy frontier (round 14): the token-leaf digest
    // as a standing streaming aggregate over arriving real sstables —
    // complete-mode state of a commutative fold is batch-deterministic,
    // so this is the streaming surface's first ORACLE-checked query
    "q181_streaming_leaf_digest" -> ((s, d) =>
      graft.streaming.StreamingStats.leafDigestOnce(s, d)),
    // STREAMING cfstats totals (round 15): the standing per-sstable
    // counters over arriving real sstables — the grouped-counter shape
    // (q181 covered the commutative digest), hash-checked against the
    // same parquet derivation that oracles the batch counters
    "q187_streaming_cfstats" -> ((s, d) =>
      graft.streaming.StreamingStats.cfStatsTotalsOnce(s, d)),
    // EXECUTED repair (round 14): the full anti-entropy loop run to
    // convergence — two diverged real replicas, token-leaf digest diff,
    // the differing ranges STREAMED as real sstables in both directions,
    // and the post-repair re-verification (every leaf re-digests equal
    // to the full-corpus union on both replicas)
    "q182_repair_execute" -> ((s, d) =>
      graft.ops.RepairStream.roundtrip(s, d)),
    // the repair session's CLOSING act (round 14): once q182's ranges
    // verify, repairedAt stamps land in every participating sstable
    // (streamed-in included) and the NEXT incremental digest (q177's
    // planning-time skip) has nothing left to read — detect, stream,
    // converge, mark, never re-verify what's already repaired
    "q184_repair_mark_cycle" -> ((s, d) =>
      graft.ops.RepairStream.markCycle(s, d)),
    // MULTI-LEVEL LCS (round 14): the level-parameterized promotion run
    // as a 4-step chain — P1 seeds L2 (split halves), a fresh flush
    // re-enters at L0, R2 lands it in the emptied L1 range RETAINING its
    // droppable tombstones (the guard's range+bloom prefilter finds the
    // L2 halves below holding every key — the conservative rule crossing
    // LEVELS), and P2's genuine 3-way L1→L2 merge finally PURGES them:
    // a tombstone's full lifecycle down the hierarchy
    "q183_leveled_multilevel" -> ((s, d) =>
      graft.ops.LeveledPromotion.roundtrip(s, d)),
    // the LCS WHAT-IF planner (round 14; q146's STCS twin): per-level
    // volume vs the geometric budget ladder over the multi-level final
    // state, naming the NEXT victim by promote()'s own selection rule
    "q185_lcs_whatif" -> ((s, d) =>
      graft.ops.LeveledPromotion.whatIf(s, d)),
    // the sstable-summary DSv2 relation itself (round 13): per-sstable
    // rollup with an ORDER-pinning checksum over (entry_index, key) —
    // entries are every MinIndexInterval-th distinct partition in key
    // order, so the oracle replays index and key per entry from parquet
    "q170_summary_source" -> ((s, d) => {
      import graft.sources.datadb.CassandraDataFixture
      val path = CassandraDataFixture.ensureFiles(s, d, compressed = false)
      s.read.format("sstable-summary").load(path)
        .select(concat(lit("sst-"), (col("generation") - 1L).cast("string"))
            .as("sstable_id"),
          col("min_interval"), col("sampling_level"),
          col("size_at_full_sampling"), col("entry_index"),
          graft.sources.BinaryKeys.beLong(col("key")).as("k"),
          graft.sources.BinaryKeys.beLong(col("first_key")).as("fk"),
          graft.sources.BinaryKeys.beLong(col("last_key")).as("lk"))
        .groupBy("sstable_id")
        .agg(count(lit(1)).as("entries"),
          max("min_interval").as("min_interval"),
          max("sampling_level").as("sampling_level"),
          max("size_at_full_sampling").as("size_at_full_sampling"),
          sum(col("k") % ChkMod).as("keys_sum"),
          sum((col("entry_index") + 1L) * (col("k") % ChkMod))
            .as("ordered_keys_sum"),
          max("fk").as("first_key"), max("lk").as("last_key"))
        .orderBy("sstable_id")
    }),
    // caller-supplied value BYTES through the sink and back: write cells
    // whose values are oracle-recomputable payload strings, read them
    // back through the scan's `value` column, checksum the CONTENT
    "q163_value_passthrough" -> ((s, d) => valuePassthrough(s, d)),
    // value bytes through the POINT-READ path (round 11): pushed key IN
    // filters plan O(partition) ranges over the value-bearing set, the
    // scan surfaces the stored bytes, and per-key CONTENT checksums of
    // the decoded payloads must match the oracle's direct derivation —
    // the q159 plan shape carrying real values end to end
    "q166_point_get_values" -> ((s, d) => {
      import graft.sources.datadb.{DataDb, DataDbScan}
      val path = ensureValueExport(s, d)
      valueChecksums(
        DataDb.read(s, path, maxSplitBytes = Some(cassSplitBytes(path)),
            format = DataDbScan.FormatCassandra)
          .where(col("key").isin(probeKeyBytes(s, d): _*)))
    }),
    // value bytes through the SLICE path (round 11): pushed keys plus a
    // clustering range — promoted-index blocks narrow each partition to
    // the overlapping run where one exists, residual keeps exactness —
    // with per-key content checksums of the in-range payloads
    "q168_slice_get_values" -> ((s, d) => {
      import graft.sources.datadb.{DataDb, DataDbScan}
      val path = ensureValueExport(s, d)
      valueChecksums(
        DataDb.read(s, path, maxSplitBytes = Some(cassSplitBytes(path)),
            format = DataDbScan.FormatCassandra)
          .where(col("key").isin(probeKeyBytes(s, d): _*) &&
            col("clustering") >= 1L && col("clustering") <= 2L))
    }),
    // the purge pipeline with the size model being the ACTUAL stored
    // value length (round 11): over the value-bearing set, the scan's
    // size_bytes IS each payload's byte length, so reclaimable-byte
    // accounting runs on real value sizes end to end (the boundary
    // stated when the passthrough landed: q83 still sized by the
    // fixture's modeled lengths)
    "q167_purge_value_sizes" -> ((s, d) => {
      import graft.sources.datadb.{DataDb, DataDbScan}
      val path = ensureValueExport(s, d)
      graft.sources.PlanCache.cached(s, s"value_purge|$path")(
          Purge.perPartition(
            DataDb.cells(s, path, maxSplitBytes = Some(cassSplitBytes(path)),
              format = DataDbScan.FormatCassandra)))
        .select("key", "key_formatted", "table_count", "size", "reclaimable")
        .orderBy(desc("reclaimable"), desc("size"), asc("key"))
        .limit(10)
    }),
    "q132_sim_ivfpq_persisted" ->
      ((s, d) => Similarity.ivfPqSearchPersisted(s, d)),
    // Gopher-rules repetition metrics (top-bigram fraction per document)
    "q65_repetition" -> ((s, d) => TextStats.repetition(s, d)),
    // SemDeDup-style semantic dedup: deterministic centroid assignment,
    // exact-cosine verify ONLY within clusters (n²/k, k scales with
    // corpus); planted exact/rescaled dups are cosine-invariant to every
    // centroid, so they always share a cluster — full recall on them.
    "q72_semantic_dedup" -> ((s, d) => Dedup.semanticDedup(s, d)),
    // composite Gopher-style quality FILTER verdict + per-source survival
    // rates (the decision stage over q26's metrics stage)
    "q73_quality_filter" -> ((s, d) => TextStats.qualityFilter(s, d)),
    // canonical-document selection: per dup cluster keep the best member
    // (most tokens, min-doc_id tiebreak) — the stage after q56's clustering
    "q74_canonical_docs" -> ((s, d) => Dedup.canonicalDocs(s, d)),
    // deterministic token-budget selection under q66's allocations:
    // hash-ordered prefix-sum gate, two-level scan (no one-reducer-per-
    // source window)
    "q75_budget_select" -> ((s, d) => TextStats.budgetSelect(s, d)),
    // duplicated-SPAN coverage: fraction of each doc covered by 5-grams
    // that also occur in another doc (exact-substring dedup approximation)
    "q80_dup_spans" -> ((s, d) => Dedup.dupSpans(s, d)),
    // the REMOVAL stage over that coverage: min-doc_id holder keeps each
    // duplicated 5-gram, everyone else masks it; per-source strip rollup
    "q86_dup_span_removal" -> ((s, d) => Dedup.dupSpanRemoval(s, d)),
    // deterministic epoch shuffle: per-shard permutation manifest with an
    // order-sensitive checksum (two-level rank, no per-shard reducer)
    "q81_epoch_shuffle" -> ((s, d) => TextStats.epochShuffle(s, d)),
    // REAL media decode: BMP/WAV containers encoded AND parsed by pure-JVM
    // byte code (no codec stub) — every header field a pure function of
    // doc_id, so the oracle recomputes the decoded values exactly
    "q78_media_decode" -> ((s, d) => Multimodal.mediaDecode(s, d)),
    // temperature-based (α=0.5) source-mixing rates under a token budget
    "q66_mixing_rates" -> ((s, d) => TextStats.mixingRates(s, d)),
    // multimodal
    "q32_multimodal_meta" -> ((s, d) => Multimodal.metadata(s, d)),
    // typed-Aggregator forms (SURVEY §2.10), both oracle-checked: q37's
    // map explodes to flat (key, ttl_s, cnt) rows DuckDB recomputes
    // relationally; q38 shares the window form's LWW total order, so one
    // SQL derivation checks both purge shapes.
    "q37_ttl_map_agg" -> ((s, d) =>
      graft.agg.TtlMapAggregator.perPartition(
        graft.sources.Fixtures.cells(s, d)).orderBy("key", "ttl_s")),
    "q38_purge_agg" -> ((s, d) =>
      graft.agg.PurgeAggregator.perPartition(
        graft.sources.Fixtures.cells(s, d),
        graft.sources.Fixtures.GcBeforeS).orderBy("key")),
    // A3/A4 reservoir estimator, SEEDED deterministic form as the official
    // entry (round 17, VERDICT r16 ask #4): one totally-ordered Vitter-R
    // fold whose sampled percentiles the oracle replays exactly — Java
    // LCG, slot overwrites, R-6 interpolation — so the estimator's
    // randomized half is hash-checked instead of a permanent rows-only
    // row. The production randomized `snapshot` keeps its spec coverage
    // (CliAndHistogramSpec "exact fields exact, percentiles near exact").
    "q42_reservoir_dist" -> ((s, d) =>
      graft.agg.ReservoirHistogram.snapshotSeeded(
          graft.sources.Fixtures.liPartitions(s, d), "size", "key")
        .select(col("count"), col("total"), col("min"), col("max"),
          floor(col("total") * 1000 / col("count")).as("mean_x1000"),
          floor(col("p50") * 1000).as("p50_x1000"),
          floor(col("p75") * 1000).as("p75_x1000"),
          floor(col("p90") * 1000).as("p90_x1000"),
          floor(col("p95") * 1000).as("p95_x1000"),
          floor(col("p99") * 1000).as("p99_x1000"))),
    // the reservoir's EXACT fields split out as an oracle-checkable query:
    // count/total/min/max ride the aggregator outside the sample
    // (Histogram.java:57-74 — exact running accumulators), and mean is
    // exactTotal/exactCount (Snapshot.java:66-68).
    "q42b_reservoir_exact" -> ((s, d) =>
      graft.agg.ReservoirHistogram.snapshot(
          graft.sources.Fixtures.liPartitions(s, d), "size")
        .select(col("count"), col("total"), col("min"), col("max"),
          floor(col("total") * 1000 / col("count")).as("mean_x1000"))),
    // the training-data operators composed end-to-end: quality gate →
    // language gate → exact dedup → per-source yield rollup
    "q49_corpus_prep" -> ((s, d) => TextStats.corpusPrep(s, d)),
    // the reference's EXACT pstats data path off raw binary files: partition
    // sizes from Index.db offset deltas, the final partition closed by the
    // Statistics.db uncompressed length (README.md:98 "reads Index.db
    // only"; IndexReader.java:87-98) — two raw sources joined, no Data.db
    // read anywhere
    "q50_pstats_raw_sizes" -> ((s, d) => {
      import graft.sources.indexdb.{IndexDb, IndexDbFixture}
      import graft.sources.statsdb.{StatsDb, StatsDbFixture}
      val idx = IndexDb.read(s, IndexDbFixture.ensureFiles(s, d))
      val lens = StatsDb.read(s, StatsDbFixture.ensureFiles(s, d))
        .where(col("tbl") === "lineitem")
        .select(col("sstable_id"), col("uncompressed_length").as("data_length"))
      IndexDb.sstableSection(idx, lens)
    }),
    // the bti (trie-indexed, Cassandra 5) beachhead: pstats off
    // Partitions.db TRIES via the lookup-free full-scan walk — same
    // logical data as q50's big-format Index.db set, same oracle SQL, so
    // green means the trie path is relation-equivalent to the big path
    "q101_pstats_bti" -> ((s, d) => {
      import graft.sources.bti.BtiFixture
      import graft.sources.indexdb.IndexDb
      import graft.sources.statsdb.{StatsDb, StatsDbFixture}
      val idx = IndexDb.readBti(s, BtiFixture.ensureFiles(s, d))
      val lens = StatsDb.read(s, StatsDbFixture.ensureFiles(s, d))
        .where(col("tbl") === "lineitem")
        .select(col("sstable_id"), col("uncompressed_length").as("data_length"))
      IndexDb.sstableSection(idx, lens)
    }),
    // bti POINT LOOKUP: every fixture key descended through its trie with
    // the hash-byte filter; the relation must equal the full-scan /
    // running-sum answer the oracle recomputes from parquet
    "q102_bti_lookup" -> ((s, d) => graft.ops.BtiOps.lookupAll(s, d)),
    // bti Rows.db ROW-INDEX roundtrip (q79's proof for the trie family):
    // large partitions' ~refs resolve through per-partition separator
    // tries; block tiling, separator ordinals, hash bytes and resolved
    // Data.db positions all pinned
    "q103_bti_row_index" -> ((s, d) => graft.ops.BtiOps.rowIndexRoundtrip(s, d)),
    // pstats off the REAL-format COMPRESSED sstable set, reading ONLY the
    // two sidecars the reference's pstats path touches (README.md:98;
    // IndexReader.java:87-98): Index.db positions (UNCOMPRESSED offsets by
    // the format's contract) closed by CompressionInfo.db's uncompressed
    // data_length — never Data.db. Partition counts are oracle-recomputed
    // from parquet; the size decomposition is pinned by the tiling
    // invariant (sum of offset-delta sizes == data_length, every size
    // positive), the same self-check class as q79's row-index tiling —
    // the real 'nb' codec's byte offsets are not re-derivable in SQL, but
    // a single mis-parsed vint breaks the tiling.
    "q82_pstats_from_cassandra" -> ((s, d) => {
      import graft.sources.indexdb.IndexDb
      import graft.sources.compressioninfo.CompressionInfo
      import graft.sources.datadb.CassandraDataFixture
      val path = CassandraDataFixture.ensureFiles(s, d, compressed = true)
      val idx = IndexDb.read(s, path)
        .withColumn("sstable_id", concat(lit("sst-"),
          (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
            .cast("long") - 1L).cast("string")))
      val lens = CompressionInfo.read(s, path)
        .groupBy("generation")
        .agg(min("data_length").as("data_length"))
        .select(concat(lit("sst-"), (col("generation") - 1L).cast("string"))
          .as("sstable_id"), col("data_length"))
      IndexDb.withSizes(idx, lens)
        .groupBy("sstable_id")
        .agg(count(lit(1)).as("partition_count"),
          sum("size").as("sum_size"), min("size").as("min_size"))
        .join(broadcast(lens), "sstable_id")
        .select(col("sstable_id"), col("partition_count"),
          (col("sum_size") === col("data_length") && col("min_size") > 0L)
            .cast("long").as("tiled_ok"))
        .orderBy("sstable_id")
    }),
    // the ENTIRE purge pipeline (LWW k-way merge + gc_grace reclaim
    // estimate) off REAL-format COMPRESSED sstables: row codec + chunk
    // decompression feeding the unchanged Purge.perPartition lineage.
    // Cell size off the real scan is the stored value's length (the 'nb'
    // files hold actual value bytes), so the oracle recomputes q48's
    // derivation under the fixture's documented representation mapping
    // (size_bytes % 61; 0 for tombstones). Completes real-format command
    // parity: cfstats (q71), pstats (q82), purge (q83), summary/metadata
    // (q62).
    "q83_purge_from_cassandra" -> ((s, d) => {
      import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
      val path = CassandraDataFixture.ensureFiles(s, d, compressed = true)
      graft.sources.PlanCache.cached(s, s"cass_purge|$path")(
          Purge.perPartition(
            DataDb.cells(s, path, maxSplitBytes = Some(cassSplitBytes(path)),
              format = DataDbScan.FormatCassandra)))
        .select("key", "key_formatted", "table_count", "size", "reclaimable")
        .orderBy(desc("reclaimable"), desc("size"), asc("key"))
        .limit(10)
    }),
    // fastText/DCLM-style hashed linear quality classifier: narrow
    // per-document fold (no explode, no shuffle), tiny rollup exchange
    "q84_classifier_quality" -> ((s, d) => TextStats.classifierQuality(s, d)),
    // the TRAINED variant: closed-form Rocchio/NB fit of the 64-bucket
    // weights on the q73 rule-gate labels (one explode pass → 64-key
    // exchange → O(64) driver collect), then the IDENTICAL narrow scoring
    // fold with the trained literals swapped in (plan shape spec-pinned
    // against q84's)
    "q104_classifier_trained" -> ((s, d) =>
      TextStats.classifierQualityTrained(s, d)),
    // q104 with the BROADCAST scorer (one plan reference object instead of
    // 64 embedded literals — the B~10⁶-model-safe form); same oracle as
    // q104, so any score divergence between the two folds breaks the hash
    "q109_classifier_broadcast" -> ((s, d) =>
      TextStats.classifierQualityBroadcast(s, d)),
    // the NON-ASCII slice: the char-sensitive operators re-oracled over a
    // deterministic multilingual corpus (2/3/4-byte UTF-8 planted in known
    // docs) — the length/replace/regex byte-vs-char class the pure-ASCII
    // fixture could never catch (the round-7 q92 bug class)
    "q105_intl_quality" -> ((s, d) =>
      TextStats.qualityOf(TextStats.intlDocs(s, d))),
    "q106_intl_repetition" -> ((s, d) =>
      TextStats.repetitionOf(TextStats.intlDocs(s, d))),
    "q107_intl_pii" -> ((s, d) =>
      Cleanse.piiScanOf(Cleanse.plantPii(TextStats.intlDocs(s, d)))),
    "q108_intl_boilerplate" -> ((s, d) => Cleanse.intlBoilerplate(s, d)),
    // distributed Lloyd's k-means, integer-exact: literal-centroid narrow
    // assignment (zero shuffle) + tiny-key update aggregate per iteration;
    // the oracle replays the whole 2-iteration trace relationally
    "q88_kmeans" -> ((s, d) => Similarity.kmeans(s, d)),
    // IVF ANN over the trained q88 index: inverted-file build + nprobe
    // bucket probing + exact in-bucket cosine; probing ALL buckets equals
    // brute force exactly (spec-pinned)
    "q89_sim_ivf_kmeans" -> ((s, d) => Similarity.ivfSearch(s, d)),
    // PII scan: email/IPv4/phone regexes in the Java∩RE2 dialect overlap,
    // one narrow codegen pass + O(#sources) rollup; planted PII corpus
    "q91_pii_scan" -> ((s, d) => Cleanse.piiScan(s, d)),
    // CCNet-style boilerplate removal: (source, line-hash) exchange, tiny
    // per-source doc totals broadcast back; planted page chrome
    "q92_boilerplate" -> ((s, d) => Cleanse.boilerplate(s, d)),
    // distributed BPE tokenizer training: corpus collapses once to a
    // word-frequency vocab; each merge iteration is a narrow pair explode
    // + alphabet²-key aggregate + TakeOrdered(1) + per-word merge fold;
    // the oracle replays the full 3-step trace with recursive CTEs
    "q90_bpe_train" -> ((s, d) => TextStats.bpeTrain(s, d)),
    // n-gram LM quality scoring: bigram count table on 8-byte hash keys,
    // integer-exact surprisal bits (bin-length log2), template-doc flags
    "q93_lm_score" -> ((s, d) => TextStats.lmScore(s, d)),
    // filter-agreement matrix: five narrow drop gates in ONE pass, corpus
    // collapses to the <=2^5 gate-combo frame, pair matrix off literals
    "q94_filter_agreement" -> ((s, d) => TextStats.filterAgreement(s, d)),
    // BM25-lite keyword search: broadcast query-term filter BEFORE any
    // aggregate (only queried posting lists shuffle), integer idf_bits x
    // saturating-tf scoring, WindowGroupLimit top-k per query
    "q95_keyword_search" -> ((s, d) => Search.keywordSearch(s, d)),
    // corpus drift: per-source TV distance x1e6 between base/incoming
    // token distributions, one conditional-sum aggregate for both sides
    "q96_corpus_drift" -> ((s, d) => TextStats.driftMonitor(s, d)),
    // real PNG roundtrip: CRC-checked chunks, zlib IDAT, 5-filter
    // reconstruction; pixel checksum oracle-recomputed from the generator
    "q97_png_decode" -> ((s, d) => Multimodal.pngDecode(s, d)),
    // image dedup on the DECODED-pixel fingerprint (real PNG decode →
    // (w,h,Σpx,Σpx·i) cluster key): re-encodings collapse, byte-hash
    // dedup wouldn't see them
    "q151_dedup_image" -> ((s, d) => Multimodal.imageDedup(s, d)),
    // trained-BPE application: words tokenized once in the Zipf-collapsed
    // vocab, corpus word stream joined to per-word token counts
    "q98_bpe_apply" -> ((s, d) => TextStats.bpeApply(s, d)),
    // real JPEG roundtrip via the JDK's javax.imageio codec; uniform-gray
    // at quality 1.0 is the exactly-roundtripping (hence oracle-checkable)
    // slice of the lossy format
    "q99_jpeg_decode" -> ((s, d) => Multimodal.jpegDecode(s, d)),
    // real ISO-BMFF (MP4) container probe: box walker over both
    // mvhd/tkhd version layouts + the 64-bit largesize escape; the codec
    // payloads (H.264/Opus) are the only part that stays stubbed
    "q113_mp4_probe" -> ((s, d) => Multimodal.mp4Probe(s, d)),
    // real WebM/Matroska container probe: EBML marker-bit varints,
    // master recursion, unknown-size streaming Segments on odd ids
    "q119_webm_probe" -> ((s, d) => Multimodal.webmProbe(s, d)),
    // real FLAC roundtrip: fixed predictors + rice entropy coding +
    // CRC-8/16 framing, PCM reconstructed exactly
    "q120_flac_decode" -> ((s, d) => Multimodal.flacDecode(s, d)),
    // real Ogg/Opus transport: page CRCs (Ogg's own polynomial), lacing
    // reassembly across a page-spanning packet, OpusHead/OpusTags
    "q122_ogg_probe" -> ((s, d) => Multimodal.oggProbe(s, d)),
    // real H.264 bitstream headers: Annex-B NAL walk with
    // emulation-prevention stripping + Exp-Golomb SPS field parse
    "q123_h264_probe" -> ((s, d) => Multimodal.h264Probe(s, d)),
    // real Opus packet TOC (RFC 6716 §3): all four framing codes,
    // mode/duration from the config field
    "q124_opus_toc" -> ((s, d) => Multimodal.opusTocProbe(s, d)),
    // real WARC/1.0 + per-record gzip members (the Common Crawl corpus
    // transport): member CRC/ISIZE verified, records parsed, HTTP
    // envelopes split, entity bytes folded
    "q125_warc_ingest" -> ((s, d) => Warc.warcIngest(s, d)),
    // real ustar TAR: octal fields, the spaces-substituted header
    // checksum, 512-block framing, end-of-archive zero blocks
    "q126_tar_ingest" -> ((s, d) => Archives.tarIngest(s, d)),
    // real ZIP: backward EOCD scan past a trailing comment, central
    // directory drive, local-header cross-check, stored+deflate entries
    // with per-entry CRC-32 verification
    "q127_zip_ingest" -> ((s, d) => Archives.zipIngest(s, d)),
    // DISTRIBUTED sstable bulk export (the CQLSSTableWriter role): each
    // task writes one complete real sstable; read back through the
    // production scan, the rollup must hash-match q67's oracle
    "q128_sstable_export" -> ((s, d) => sstableExport(s, d)),
    // incremental (cross-snapshot) dedup: incoming batch vs base corpus,
    // digest-keyed both stages
    "q85_incremental_dedup" -> ((s, d) => Dedup.incrementalDedup(s, d)))

  /** DuckDB-dialect oracle SQL; keys omitted here fall back to the driver's
    * rows-only check (engine-hash-based or approximate operators). */
  def oracleSql: Map[String, String] = OracleSql.queries
}
