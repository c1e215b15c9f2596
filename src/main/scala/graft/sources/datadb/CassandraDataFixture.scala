package graft.sources.datadb

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo, TempDirs}
import graft.sources.compressioninfo.{ChunkedData, CompressionInfoFormat, Compressors}
import graft.sources.statsdb.CassandraStatsFormat
import CassandraDataFormat._

/** Materializes the lineitem cell fixture as REAL Cassandra big-format
  * sstables — full descriptors (`nb-<gen>-big-*`), Data.db in the 'nb'
  * `UnfilteredSerializer` encoding, an Index.db sidecar whose positions
  * are the partition blocks' UNCOMPRESSED byte offsets, and a
  * Statistics.db whose HEADER component is a real `SerializationHeader`
  * (EncodingStats minima + key/clustering/column types) that the row codec
  * decodes through. The compressed variant chunk-compresses Data.db with
  * LZ4 and writes the real CompressionInfo.db chunk map next to it —
  * the reader path then exercises `chunkFor` offset mapping, per-chunk
  * CRC32 verification and decompression end to end.
  *
  * Representation mapping, stated once (the q67/q68 oracles encode it):
  *  - c0/c1 become one complex (multi-cell `MapType(LongType, BytesType)`)
  *    column each: the fixture can hold several cells per (clustering,
  *    column) in one sstable, which a real row models as collection cells
  *    with distinct paths (an 8-byte sequence counter here);
  *  - a deleted cell carries no TTL in the real encoding (parses back as
  *    NO_TTL), and no value;
  *  - cell values are deterministic blobs of `size_bytes % 61` bytes, so
  *    the parsed value length is oracle-recomputable while fixture files
  *    stay small; a length of 0 exercises HAS_EMPTY_VALUE;
  *  - per-cell counter flags don't exist in the real format (counter-ness
  *    is a column TYPE); the fixture's scattered is_counter bits are
  *    dropped rather than faked.
  */
object CassandraDataFixture {

  /** Small chunks so fixture-scale files still span many chunks (real
    * default is 16 KiB). */
  val ChunkLength = 4096

  /** Small summary sampling interval so fixture-scale summaries hold
    * several entries (real default min_index_interval is 128). */
  val MinIndexInterval = 4

  /** Promoted-index block boundary every N unfiltereds. Cassandra's real
    * trigger is a byte threshold (`column_index_size`, 64 KiB); a count
    * trigger at fixture scale exercises the identical LAYOUT while keeping
    * every block boundary derivable by the DuckDB oracle. Partitions of
    * ≤ N unfiltereds get no promoted index (single-block partitions are
    * not indexed, as in Cassandra). N = 2 because the widest fixture
    * partition holds 5 unfiltereds — blocks must actually occur. */
  val RowsPerBlock = 2

  val ColumnSpecs: Seq[ColumnSpec] = Seq("c0", "c1").map { n =>
    ColumnSpec(n.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Marshal.Prefix + s"MapType(${Marshal.Prefix}LongType," +
        s"${Marshal.Prefix}BytesType)")
  }

  private val memo = new SessionMemo[String](TempDirs.deleteDir)

  def ensureFiles(spark: SparkSession, dir: String,
      compressed: Boolean): String =
    ensureVariant(spark, dir, s"$compressed",
      gen => if (compressed) Some(Compressors.Lz4) else None)

  /** The MULTI-CODEC compressed set: the same corpus, each sstable
    * chunk-compressed with a different one of Cassandra's four published
    * codecs, rotating by generation (gen % 4 → LZ4, Snappy, Deflate,
    * Zstd). The reader selects the codec from each file's own
    * CompressionInfo.db header — q111 proves all four decode through the
    * production scan path against one relational oracle. */
  def ensureMultiCodecFiles(spark: SparkSession, dir: String): String =
    ensureVariant(spark, dir, "mc",
      gen => Some(codecForGen(gen)))

  def codecForGen(gen: Long): Compressors.ChunkCompressor =
    Compressors.All((gen % 4).toInt)

  /** The WIDE-PARTITION set: the same cells remapped to `key % 8` partition
    * keys with the ORIGINAL key as the clustering — 8 huge partitions per
    * sstable instead of thousands of small ones, the degenerate shape
    * (one giant partition) that defeats partition-boundary split planning.
    * LZ4-chunk-compressed, so an intra-partition range start exercises the
    * chunk table seek AND the promoted-index block offsets together
    * (q112). The remap is replayable in SQL: key%8 AS key, key AS
    * clustering (markers rename to 'range:'||key like the reader does). */
  def ensureWideFiles(spark: SparkSession, dir: String): String =
    ensureVariant(spark, dir, "wide", _ => Some(Compressors.Lz4),
      remap = (k, _) => (k % WidePartitions, k))

  val WidePartitions = 8L

  /** The SIZE-DIVERSE tiered set (round 13, q171's input): the corpus
    * re-assigned to 6 generations whose modeled sizes form roughly
    * (1,1,1,2,4,4) units — three small near-equals, one middle
    * singleton, two large near-equals — so size-tiered minor-compaction
    * SELECTION has both selected tiers and a passthrough. Assignment is
    * a pure SQL-replayable function of (key, clustering):
    * `m = (key+clustering)%13; gen = m if m<=2, 3 if m<=4, 4 if m<=8,
    * else 5` — clustering in the rule spreads each PARTITION's events
    * across generations (as real write-time flushing does), which is
    * what makes minor compaction's conservative purge guard
    * non-vacuous: a selected tier's tombstone key can live in a
    * passthrough sstable too. */
  def ensureTieredFiles(spark: SparkSession, dir: String): String =
    ensureVariant(spark, dir, "tiered", _ => Some(Compressors.Lz4),
      reassign = Some { (key, clustering) =>
        import org.apache.spark.sql.functions.{concat, lit, when}
        val m = (key + clustering) % 13
        concat(lit("sst-"), when(m <= 2, m).when(m <= 4, lit(3L))
          .when(m <= 8, lit(4L)).otherwise(lit(5L)).cast("string"))
      })

  /** A REPLICA of the base corpus that MISSES one sliver (round 14,
    * q182's divergence model): all events except those with
    * (key + clustering) % 97 == gap — two replicas built with different
    * gaps have disjoint holes, so their union is the full corpus and the
    * executed repair can converge them. Original sstable assignment is
    * kept, so each replica is the base layout minus its sliver. */
  def ensureReplicaFiles(spark: SparkSession, dir: String,
      gap: Long): String = {
    val frame = Fixtures.cells(spark, dir)
      .where(pmod(col("key") + col("clustering"), lit(97L)) =!= gap)
    ensureVariant(spark, dir, s"replica$gap", _ => Some(Compressors.Lz4),
      frameOverride = Some(frame))
  }

  /** The TWCS-BANDED set (round 14, q178's input): events land in TIME
    * bands the way TimeWindowCompactionStrategy files them —
    *
    *  - every DROPPABLE tombstone event (tombstone with ldt < gcBefore,
    *    markers included) goes to one of 2 FULLY-EXPIRED sstables split
    *    at write-day 1200 (sst-4 old, sst-5 newer): their Statistics.db
    *    maxLocalDeletionTime is < gcBefore by construction, the
    *    condition `sstableexpiredblockers` scans for;
    *  - everything else (live, expiring, non-droppable tombstones) goes
    *    to 4 LIVE sstables by 640-day write band (sst-0..sst-3), so the
    *    live files have TWCS's disjoint timestamp windows.
    *
    * Day is `timestamp_us div 86400000000` (the fixture's own write-day
    * term), so the assignment replays exactly in SQL. */
  /** One of THREE coordinated replicas (round 15, q189's divergence
    * model): replica `r` misses the events whose token LEAF is
    * congruent to r (mod 3) AND whose (key+clustering) % 29 sliver is
    * 0 — leaf-correlated holes, so for any leaf exactly the two
    * replicas NOT assigned that leaf still hold it complete. The union
    * of the three replicas is the full corpus, each replica's holes
    * are disjoint from the others', and a per-leaf repair coordinator
    * can always find a source replica whose leaf digest matches the
    * union — the N-replica direction-matrix shape q182's two-replica
    * loop cannot exhibit. Leaf is the SAME ring binning the digests
    * use (h60(key) >> 54), so the rule replays in SQL. */
  def ensureMatrixReplicaFiles(spark: SparkSession, dir: String,
      r: Long): String = {
    require(0 <= r && r < 3, s"replica index out of range: $r")
    val leaf = shiftright(
      graft.functions.PortableHash.h60(col("key").cast("string")),
      graft.ops.AntiEntropy.TokenLeafShift)
    val frame = Fixtures.cells(spark, dir)
      .where(!(pmod(leaf, lit(3L)) === r &&
        pmod(col("key") + col("clustering"), lit(29L)) === 0L))
    ensureVariant(spark, dir, s"mreplica$r", _ => Some(Compressors.Lz4),
      frameOverride = Some(frame))
  }

  /** One of three UNIFORMLY-diverged replicas (round 15, q194's
    * divergence model — the regime [[ensureMatrixReplicaFiles]]
    * deliberately avoids): replica `r` misses the events with
    * (key+clustering) % 31 == r in EVERY token leaf, so (wherever all
    * three slivers land in a leaf) NO single replica holds the leaf
    * complete and a per-leaf repair must merge streams from MULTIPLE
    * sources. The union of the three is still the full corpus. */
  def ensureUniformReplicaFiles(spark: SparkSession, dir: String,
      r: Long): String = {
    require(0 <= r && r < 3, s"replica index out of range: $r")
    val frame = Fixtures.cells(spark, dir)
      .where(pmod(col("key") + col("clustering"), lit(31L)) =!= r)
    ensureVariant(spark, dir, s"ureplica$r", _ => Some(Compressors.Lz4),
      frameOverride = Some(frame))
  }

  /** The EXECUTED-TWCS input set (round 15, q188's input): the q178
    * banded layout reshaped so the strategy's every branch has a
    * subject —
    *
    *  - live events (and non-droppable tombstones) BEFORE write-day
    *    1920 are absent from this set (a corpus whose oldest windows
    *    have aged out entirely — the state TWCS deployments converge
    *    to; the synthetic corpus spans write-days ~1097..3595), so the
    *    oldest expired sstable has no older-data blockers and can DROP;
    *  - droppable tombstones split at day 1920: sst-4 (old, fully
    *    expired, UNBLOCKED → whole-file drop), sst-5 (newer, fully
    *    expired but overlapping live data with older min timestamps →
    *    BLOCKED, survives);
    *  - live bands: sst-0 days [1920,2560), sst-1 [2560,3200), and the
    *    newest window's events ≥ 3200 split into 2 size-similar
    *    sstables sst-2/sst-3 by (key+clustering)%2 — the ≥2-member
    *    window the in-window compaction merges.
    *
    * Every term replays in SQL: day = timestamp_us div 86400000000. */
  def ensureTwcsExecFiles(spark: SparkSession, dir: String): String = {
    val base = Fixtures.cells(spark, dir)
    val day = expr("timestamp_us div 86400000000")
    val droppable = col("is_tombstone") &&
      col("local_deletion_time_s") < Fixtures.GcBeforeS
    val frame = base.where(droppable || day >= 1920L)
      .withColumn("sstable_id",
        when(droppable, concat(lit("sst-"),
          when(day < 1920L, lit(4L)).otherwise(lit(5L)).cast("string")))
          .otherwise(concat(lit("sst-"),
            when(day < 2560L, lit(0L)).when(day < 3200L, lit(1L))
              .otherwise(lit(2L) +
                pmod(col("key") + col("clustering"), lit(2L)))
              .cast("string"))))
    ensureVariant(spark, dir, "twcsx", _ => Some(Compressors.Lz4),
      frameOverride = Some(frame))
  }

  /** The TWCS-with-in-window-STCS input set (round 16, q197's input):
    * the composed regime real Cassandra runs — TWCS buckets by window,
    * then applies STCS bucketing INSIDE the current window instead of
    * merging the whole window in one shot. Layout:
    *
    *  - old bands: sst-0 holds every event before write-day 2560
    *    (windows 1–3, assigned window 3 by max timestamp — Cassandra
    *    buckets by the last write), sst-1 holds [2560, 3200) (window
    *    4): both single-member windows, never re-compacted;
    *  - the NEWEST window (day ≥ 3200, window 5) holds 3 flushes in
    *    TWO size classes: (key+clustering)%6 = 0 → sst-2, = 1 → sst-3
    *    (two ~1/6-sized flushes, same tier), else → sst-4 (a ~4/6
    *    flush two tiers up) — so in-window STCS selects exactly
    *    {sst-2, sst-3} and the big flush passes through.
    *
    * Droppable tombstones ride their own day band (all land in sst-0:
    * the fixture's droppable cutoff is write-day 2500 < 2560), so every
    * file holds live cells (no expiry candidates) and the composition
    * is isolated from q188's drop/block branches. Every term replays in
    * SQL: day = timestamp_us div 86400000000. */
  def ensureTwcsStcsFiles(spark: SparkSession, dir: String): String = {
    val base = Fixtures.cells(spark, dir)
    val day = expr("timestamp_us div 86400000000")
    val frame = base.withColumn("sstable_id",
      when(day < 2560L, lit("sst-0"))
        .when(day < 3200L, lit("sst-1"))
        .otherwise(concat(lit("sst-"),
          when(pmod(col("key") + col("clustering"), lit(6L)) === 0L,
            lit(2L))
            .when(pmod(col("key") + col("clustering"), lit(6L)) === 1L,
              lit(3L))
            .otherwise(lit(4L)).cast("string"))))
    ensureVariant(spark, dir, "twcsst", _ => Some(Compressors.Lz4),
      frameOverride = Some(frame))
  }

  /** The UNIFIED-compaction set (round 16, q206's input): 9 sstables
    * whose DENSITIES — modeled bytes normalized by covered token-span
    * fraction, UCS's level metric — land on three distinct levels, so
    * all three of the strategy's regimes appear at once:
    *
    *  - 4 "flushes" (sst-0..3) spanning the FULL token ring, ~1/16 of
    *    the corpus each → the lowest density class (level 0), where the
    *    tiered regime (T4) sees 4 members and merges;
    *  - 2 OVERLAPPING sstables (sst-6/sst-7, split by timestamp
    *    parity) covering the SAME ring eighth → mid density (level 1),
    *    where the leveled regime (L4) sees overlap ≥ 2 and merges;
    *  - 3 DISJOINT dense sstables (sst-4: quarter 0, sst-5: quarter 1,
    *    sst-8: the last three eighths) → high density (level 2), where
    *    the leveled regime sees no overlap and leaves them alone — the
    *    LCS-like invariant holding.
    *
    * Assignment is a pure SQL-replayable function of (key, clustering,
    * timestamp, token): m4 = (key+clustering)%4; events with m4=3 flush
    * (flush id = 2·((key+clustering)%8 div 4) + timestamp_us%2 — both
    * parities hash over the whole ring, so every flush spans it);
    * everything else routes by token eighth e = h60(key) div 2^57:
    * quarter 0 (e≤1) → sst-4, quarter 1 (e≤3) → sst-5, e=4 → sst-6/7
    * by timestamp parity, e≥5 → sst-8. Densities are scale-free (every
    * file's bytes are proportional to the corpus) so the level split
    * survives any sf. */
  def ensureUcsFiles(spark: SparkSession, dir: String): String = {
    val base = Fixtures.cells(spark, dir)
    val m4 = pmod(col("key") + col("clustering"), lit(4L))
    val m8 = pmod(col("key") + col("clustering"), lit(8L))
    val eighth = shiftright(
      graft.functions.PortableHash.h60(col("key").cast("string")), 57)
    val frame = base.withColumn("sstable_id",
      when(m4 === 3L, concat(lit("sst-"),
        (expr("(key + clustering) % 8 div 4") * 2L +
          pmod(col("timestamp_us"), lit(2L))).cast("string")))
        .otherwise(concat(lit("sst-"),
          when(eighth <= 1L, lit(4L))
            .when(eighth <= 3L, lit(5L))
            .when(eighth === 4L,
              lit(6L) + pmod(col("timestamp_us"), lit(2L)))
            .otherwise(lit(8L)).cast("string"))))
    ensureVariant(spark, dir, "ucs", _ => Some(Compressors.Lz4),
      frameOverride = Some(frame))
  }

  def ensureTwcsFiles(spark: SparkSession, dir: String): String = {
    val base = Fixtures.cells(spark, dir)
    // integral div, not float-divide-and-cast: the oracle replays with //
    val day = expr("timestamp_us div 86400000000")
    val band = expr("least(timestamp_us div 86400000000 div 640, 3)")
    val droppable = col("is_tombstone") &&
      col("local_deletion_time_s") < Fixtures.GcBeforeS
    val frame = base.withColumn("sstable_id",
      when(droppable, concat(lit("sst-"),
        (lit(4L) + when(day < 1200L, 0L).otherwise(1L)).cast("string")))
        .otherwise(concat(lit("sst-"), band.cast("string"))))
    ensureVariant(spark, dir, "twcs", _ => Some(Compressors.Lz4),
      frameOverride = Some(frame))
  }

  /** The LEVELED set (round 13, q172's input): 2 overlapping L0 "flush"
    * sstables over the MIDDLE half of the key space plus 4 L1 sstables
    * holding NON-OVERLAPPING contiguous key ranges (ntile(4) of the
    * distinct keys) — Cassandra's leveled layout in miniature, with the
    * LEVEL written into each Statistics.db (where real LCS keeps it).
    * Assignment is SQL-replayable: tile = NTILE(4) OVER (ORDER BY key)
    * of distinct keys; events of tile-2/3 keys with timestamp_us%10 < 3
    * flush to L0 (split sst-0/sst-1 by timestamp parity); everything
    * else lives in its tile's L1 sstable (sst-(tile+1)). The global
    * ntile window is fixture-GENERATION cost only, not an engine
    * operator. */
  def ensureLeveledFiles(spark: SparkSession, dir: String): String = {
    val base = Fixtures.cells(spark, dir)
    val tiles = base.select("key").distinct()
      .withColumn("tile", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy("key")))
    val frame = base.join(tiles, "key")
      .withColumn("sstable_id",
        when(col("tile").isin(2, 3) && col("timestamp_us") % 10 < 3,
          concat(lit("sst-"), (col("timestamp_us") % 2).cast("string")))
          .otherwise(concat(lit("sst-"),
            (col("tile") + 1).cast("string"))))
    ensureVariant(spark, dir, "leveled", _ => Some(Compressors.Lz4),
      frameOverride = Some(frame),
      levelFor = gen => if (gen <= 2) 0 else 1)
  }

  private def ensureVariant(spark: SparkSession, dir: String, tag: String,
      codecFor: Long => Option[Compressors.ChunkCompressor],
      remap: (Long, Long) => (Long, Long) = (k, c) => (k, c),
      reassign: Option[(org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column] = None,
      frameOverride: Option[org.apache.spark.sql.DataFrame] = None,
      levelFor: Long => Int = _ => 0): String =
    memo(spark, s"$dir|$tag")(
      TempDirs.fill("graft-cassdata-fixture")(writeAll(spark, dir, _, codecFor,
        remap, reassign, frameOverride, levelFor)))

  /** Deterministic value blob: length `sizeBytes % 61`, contents a mix of
    * repetition (compressible) and position-dependent bytes (not
    * trivially so). */
  private[datadb] def valueOf(sizeBytes: Long, clustering: Long): Array[Byte] = {
    val len = (sizeBytes % 61).toInt
    val b = new Array[Byte](len)
    var i = 0
    while (i < len) {
      b(i) = (if (i % 3 == 0) (sizeBytes & 0xff) else i * 13 + clustering).toByte
      i += 1
    }
    b
  }

  private[datadb] final case class Ev(key: Long, clustering: Long,
      column: String,
      isMarker: Boolean, tsUs: Long, ttlS: Long, ldtS: Long,
      isTomb: Boolean, isExp: Boolean, sizeBytes: Long,
      // caller-supplied value bytes (round 10 passthrough); null falls
      // back to the fixture's deterministic valueOf(sizeBytes) blob
      valueBytes: Array[Byte] = null)

  /** DISTRIBUTED fixture materialization: one task per generation writes
    * its complete sstable (Data.db + every sidecar) via [[writeSstable]] —
    * the q128 bulk-export shape. The previous form collected EVERY cell to
    * the driver and wrote serially, which capped the tier size the fixture
    * could materialize (the 10× binary scale probe would collect ~6M rows
    * into the driver heap); here only the 6 generation names cross back.
    * No ordering is imposed on the shuffle: [[writeSstable]] sorts each
    * generation's events internally (by key, then clustering, then
    * (column, ts) within a row), so the emitted event MULTISET — the thing
    * every roundtrip oracle aggregates — is independent of iterator order.
    * Local mode writes to a shared local dir; on a cluster `out` is a DFS
    * path and the per-task kernel is unchanged. */
  private def writeAll(spark: SparkSession, dir: String, out: Path,
      codecFor: Long => Option[Compressors.ChunkCompressor],
      remap: (Long, Long) => (Long, Long) = (k, c) => (k, c),
      reassign: Option[(org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column] = None,
      frameOverride: Option[org.apache.spark.sql.DataFrame] = None,
      levelFor: Long => Int = _ => 0): Unit = {
    import spark.implicits._
    val outStr = out.toString
    val base = frameOverride.getOrElse(Fixtures.cells(spark, dir))
    val gens = reassign.fold(base)(f =>
        base.withColumn("sstable_id", f(col("key"), col("clustering"))))
      .select(col("sstable_id"), col("key"), col("clustering"),
        col("column_name"), col("kind"), col("timestamp_us"), col("ttl_s"),
        col("local_deletion_time_s"), col("is_tombstone"), col("is_expiring"),
        col("size_bytes"))
      .as[(String, Long, Long, String, String, Long, Long, Long,
        Boolean, Boolean, Long)]
      .groupByKey(_._1)
      .mapGroups { (sst, it) =>
        val gen = sst.stripPrefix("sst-").toLong + 1L
        val evs = it.map { t =>
          val (k, c) = remap(t._2, t._3)
          Ev(k, c, t._4, t._5 == DataDbFormat.KindMarker, t._6,
            t._7, t._8, t._9, t._10, t._11)
        }.toArray
        writeSstable(java.nio.file.Paths.get(outStr), gen, evs,
          codecFor(gen), levelFor(gen))
        sst
      }
      .collect()
    require(gens.nonEmpty, s"no fixture cells derived under $dir")
  }

  /** Distributed-export kernel (q128): write ONE real sstable — Data.db
    * plus every sidecar — from an iterator of cell tuples `(key,
    * clustering, column, isMarker, ts_us, ttl_s, ldt_s, isTombstone,
    * isExpiring, size_bytes)`. This is the per-task unit of the bulk
    * sstable SINK (the role Cassandra's CQLSSTableWriter plays for its
    * bulk loader): each Spark task materializes its partition of the
    * relation as one complete sstable. */
  def writeSstableFrom(out: Path, gen: Long,
      rows: Iterator[(Long, Long, String, Boolean, Long, Long, Long,
        Boolean, Boolean, Long)], compressed: Boolean): Unit = {
    val evs = rows.map { t =>
      Ev(t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9, t._10)
    }.toArray
    writeSstable(out, gen, evs,
      if (compressed) Some(Compressors.Lz4) else None)
  }

  /** [[writeSstableFrom]] with caller-supplied VALUE bytes (round 10):
    * the 11th tuple element, when non-null, is stored as the cell's
    * value verbatim (the read-back length is then its length); null falls
    * back to the fixture's deterministic blob of `size_bytes % 61`
    * bytes. Tombstones and markers never store a value either way. */
  def writeSstableFromValues(out: Path, gen: Long,
      rows: Iterator[(Long, Long, String, Boolean, Long, Long, Long,
        Boolean, Boolean, Long, Array[Byte])], compressed: Boolean): Unit = {
    val evs = rows.map { t =>
      Ev(t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9, t._10, t._11)
    }.toArray
    writeSstable(out, gen, evs,
      if (compressed) Some(Compressors.Lz4) else None)
  }

  /** [[StreamOrdering]] on the sink's value tuples `(key, clustering,
    * column, isMarker, ts, ttl, ldt, isTomb, isExp, size, value)`. */
  val ValueTupleOrdering: Ordering[(Long, Long, String, Boolean, Long,
      Long, Long, Boolean, Boolean, Long, Array[Byte])] =
    Ordering.by(t => (t._1, t._2, !t._4, t._3, t._5))

  /** [[writeSstableFromValues]] for a stream ALREADY in
    * [[ValueTupleOrdering]] with caller-supplied running header minima
    * (round 11: the spill-bounded sink path) — events stream through the
    * one-pass kernel, so task heap is O(spill buffer + partitions), not
    * O(sstable). Minima semantics match the array path exactly: `minTs`
    * over all events, `minLdt` over deleted/expiring ones
    * (NoDeletionTimeS when none), `minTtl` over expiring ones (0 when
    * none). */
  def writeSstableFromSortedValues(out: Path, gen: Long,
      sorted: Iterator[(Long, Long, String, Boolean, Long, Long, Long,
        Boolean, Boolean, Long, Array[Byte])],
      minTs: Long, minLdt: Long, minTtl: Long, compressed: Boolean,
      level: Int = 0): Unit =
    writeSstableSorted(out, gen,
      sorted.map(t => Ev(t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8,
        t._9, t._10, t._11)),
      minTs, minLdt, minTtl,
      if (compressed) Some(Compressors.Lz4) else None, level)

  /** Total stream order of the write kernel: partitions by key,
    * clusterings ascending, markers (bounds) before the row of the same
    * clustering, cells in (column, timestamp) order — exactly the order
    * the encoding emits, so a SORTED event stream writes in one pass. */
  private[datadb] val StreamOrdering: Ordering[Ev] =
    Ordering.by((e: Ev) => (e.key, e.clustering, !e.isMarker, e.column,
      e.tsUs))

  private def writeSstable(out: Path, gen: Long, evs: Array[Ev],
      codec: Option[Compressors.ChunkCompressor], level: Int = 0): Unit = {
    // EncodingStats minima over exactly the values the encoding writes:
    // all timestamps; deletion times of deleted/expiring cells and
    // markers; TTLs of expiring cells
    val minTs = evs.map(_.tsUs).min
    val written = evs.filter(e => e.isTomb || e.isExp)
    val minLdt = if (written.isEmpty) NoDeletionTimeS else written.map(_.ldtS).min
    val expiring = evs.filter(_.isExp)
    val minTtl = if (expiring.isEmpty) 0L else expiring.map(_.ttlS).min
    // ONE in-place sort and a single streaming pass: the array form is
    // the fixture path; the spill-bounded sink path feeds the same
    // kernel from a k-way run merge (round 11)
    java.util.Arrays.sort(evs, StreamOrdering)
    writeSstableSorted(out, gen, evs.iterator, minTs, minLdt, minTtl, codec,
      level)
  }

  /** STREAMING write kernel (round 11): writes one complete real sstable
    * — Data.db and every sidecar — from an event iterator ALREADY in
    * [[StreamOrdering]], in ONE pass. Live task memory is
    * O(current clustering group) for row assembly + O(one partition's
    * unfiltered offsets) for the promoted index + O(partitions) for the
    * bloom/summary key residents — never O(sstable cells). That is the
    * same residency profile Cassandra's own writer has (its bloom filter
    * and index summary are per-partition structures built alongside the
    * data stream); the cells themselves, the dominant term, stream
    * through. Header minima must be supplied (they gate the delta
    * encoding and are running-computable by any caller). */
  private[datadb] def writeSstableSorted(out: Path, gen: Long,
      sorted: Iterator[Ev], minTs: Long, minLdt: Long, minTtl: Long,
      codec: Option[Compressors.ChunkCompressor], level: Int = 0): Unit = {
    val header = SerializationHeaderInfo(minTs, minLdt, minTtl,
      keyType = Marshal.Prefix + "LongType",
      clusteringTypes = Seq(Marshal.Prefix + "LongType"),
      staticColumns = Nil,
      regularColumns = ColumnSpecs)
    val it = sorted.buffered
    require(it.hasNext, s"writeSstableSorted: no events for generation $gen")

    val base = s"nb-$gen-big"
    val dataFile = out.resolve(base + DataDbFormat.Suffix).toFile
    val fileStream = new BufferedOutputStream(new FileOutputStream(dataFile), 1 << 16)
    val chunking = codec.map(c =>
      new ChunkedData.ChunkingOutputStream(fileStream, ChunkLength,
        Int.MaxValue, c))
    val data = new DataOutputStream(chunking.getOrElse(fileStream))
    // long index-offset counter: DataOutputStream.size() saturates at
    // 2 GiB, and Summary.db offsets must stay exact past it
    val indexCounting = new graft.sources.CountingOutputStream(
      new BufferedOutputStream(new FileOutputStream(out.resolve(
        base + graft.sources.indexdb.IndexDbFormat.Suffix).toFile)))
    val index = new DataOutputStream(indexCounting)
    val w = new Writer(data, header)
    // Summary.db sampling state: every MinIndexInterval-th partition's
    // (key, Index.db entry offset), plus first/last keys
    val summaryEntries =
      Vector.newBuilder[graft.sources.summarydb.SummaryDbFormat.Entry]
    var firstKey: Array[Byte] = null
    var lastKey: Array[Byte] = null
    var partitionsWritten = 0L
    // distinct partition keys for Filter.db (inherently O(partitions):
    // the bloom itself is a per-key structure)
    val bloomKeys = Vector.newBuilder[Long]
    // stats accumulators — the streaming forms of the old whole-array
    // folds, value-identical
    var rowsN = 0L; var nonMarkers = 0L
    var minClv = Long.MaxValue; var maxClv = Long.MinValue
    var sMinTs = Long.MaxValue; var sMaxTs = Long.MinValue
    var sMinLdt = Long.MaxValue; var sMaxLdt = Long.MinValue
    var sMaxTtl = 0L
    val grp = new ArrayBuffer[Ev]()
    try {
      while (it.hasNext) {
        val key = it.head.key
        bloomKeys += key
        val keyBytes = java.nio.ByteBuffer.allocate(8).putLong(key).array()
        if (partitionsWritten % MinIndexInterval == 0)
          summaryEntries += graft.sources.summarydb.SummaryDbFormat.Entry(
            keyBytes, indexCounting.count)
        if (firstKey == null) firstKey = keyBytes
        lastKey = keyBytes
        partitionsWritten += 1
        val partitionStart = w.position
        w.writePartitionStart(keyBytes)
        val headerLength = w.position - partitionStart
        // (position before, kind, clustering) per unfiltered — the inputs
        // of the promoted (row) index
        val unfiltereds = Vector.newBuilder[(Long, Int, Long)]
        while (it.hasNext && it.head.key == key) {
          val clustering = it.head.clustering
          grp.clear()
          while (it.hasNext && it.head.key == key &&
              it.head.clustering == clustering) {
            val e = it.next()
            grp += e
            if (e.clustering < minClv) minClv = e.clustering
            if (e.clustering > maxClv) maxClv = e.clustering
            if (e.tsUs < sMinTs) sMinTs = e.tsUs
            if (e.tsUs > sMaxTs) sMaxTs = e.tsUs
            if (e.ldtS < sMinLdt) sMinLdt = e.ldtS
            if (e.ldtS > sMaxLdt) sMaxLdt = e.ldtS
            if (e.isExp && e.ttlS > sMaxTtl) sMaxTtl = e.ttlS
            if (!e.isMarker) nonMarkers += 1
          }
          // bounds sort before the row of the same clustering (the stream
          // order already places them first)
          grp.foreach { m =>
            if (m.isMarker) {
              unfiltereds += ((w.position, KindInclStartBound, clustering))
              w.write(WriteMarker(clustering, KindInclStartBound, m.tsUs,
                m.ldtS))
            }
          }
          val cells = grp.filter(!_.isMarker)
          if (cells.nonEmpty) {
            rowsN += 1
            var pathSeq = 0L
            // the stream order already has cells in (column, ts) order
            val wcells = cells.map { e =>
              val colIdx = if (e.column == "c0") 0 else 1
              pathSeq += 1
              WriteCell(colIdx,
                path = java.nio.ByteBuffer.allocate(8).putLong(pathSeq).array(),
                isDeleted = e.isTomb,
                isExpiring = e.isExp,
                timestampUs = e.tsUs,
                ttlS = e.ttlS,
                localDeletionTimeS = e.ldtS,
                value =
                  if (e.isTomb) null
                  else if (e.valueBytes != null) e.valueBytes
                  else valueOf(e.sizeBytes, clustering))
            }
            unfiltereds += ((w.position, KindClustering, clustering))
            w.write(WriteRow(clustering, wcells.toIndexedSeq))
          }
        }
        val bodyEnd = w.position // last unfiltered's end (pre end marker)
        w.writePartitionEnd()
        // REAL RowIndexEntry: partitions spanning more than one block get
        // a promoted index. Block boundary every RowsPerBlock unfiltereds —
        // the real trigger is a byte threshold (column_index_size, 64 KiB);
        // a count trigger at fixture scale exercises the identical LAYOUT
        // while keeping every block derivable by the oracle.
        val us = unfiltereds.result()
        val promoted =
          if (us.length <= RowsPerBlock) Array.emptyByteArray
          else {
            val blocks = us.grouped(RowsPerBlock).toVector.zipWithIndex
              .map { case (blk, gi) =>
                val lastIdx = gi * RowsPerBlock + blk.length - 1
                val end =
                  if (lastIdx == us.length - 1) bodyEnd
                  else us(lastIdx + 1)._1
                CassandraDataFormat.IndexInfo(
                  blk.head._2, blk.head._3, blk.last._2, blk.last._3,
                  offset = blk.head._1 - partitionStart,
                  width = end - blk.head._1,
                  endOpenMarker = None)
              }
            CassandraDataFormat.serializePromotedIndex(
              CassandraDataFormat.PromotedIndex(headerLength,
                deletionLdtS = NoDeletionTimeS,
                deletionMfdaUs = Long.MinValue, blocks))
          }
        graft.sources.indexdb.IndexDbFormat.writeEntry(index, keyBytes,
          partitionStart, promoted)
      }
      // success path: flush chunk tail, then the sidecar components
      val infoOpt = chunking.map { c =>
        val (dataLength, offsets) = c.finish()
        val opts = codec.get match {
          case Compressors.Lz4 => Seq("lz4_compressor_type" -> "fast")
          case _ => Nil
        }
        CompressionInfoFormat.Info(codec.get.name, opts, ChunkLength,
          Int.MaxValue, dataLength, offsets)
      }
      data.flush()
      infoOpt.foreach { info =>
        val ci = new DataOutputStream(new BufferedOutputStream(
          new FileOutputStream(out.resolve(
            base + CompressionInfoFormat.Suffix).toFile)))
        try CompressionInfoFormat.write(ci, info) finally ci.close()
      }
      writeStats(out, base, header, partitionsWritten, rowsN, minClv,
        maxClv, sMinTs, sMaxTs, sMinLdt, sMaxLdt, sMaxTtl, nonMarkers,
        level)
      writeFilter(out, base, bloomKeys.result())
      writeSummary(out, base, summaryEntries.result(), firstKey, lastKey)
      // close before digesting: Digest.crc32 covers the AS-STORED bytes
      // (compressed form for a compressed table), like Cassandra's
      fileStream.close()
      writeDigestAndToc(out, base, dataFile, compressed = codec.isDefined)
    } finally {
      fileStream.close() // no-op on the success path (already closed)
      index.close()
    }
  }

  /** Real Summary.db: every MinIndexInterval-th partition's (key,
    * Index.db entry offset) in the IndexSummarySerializer layout, plus the
    * first/last-key tail (SummaryDbFormat). Full sampling. */
  private def writeSummary(out: Path, base: String,
      entries: Vector[graft.sources.summarydb.SummaryDbFormat.Entry],
      firstKey: Array[Byte], lastKey: Array[Byte]): Unit = {
    import graft.sources.summarydb.SummaryDbFormat
    val s = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(out.resolve(base + SummaryDbFormat.Suffix).toFile)))
    try SummaryDbFormat.write(s, SummaryDbFormat.Summary(
      MinIndexInterval, SummaryDbFormat.BaseSamplingLevel,
      entries.length, entries, firstKey, lastKey))
    finally s.close()
  }

  /** Real Filter.db: every partition key inserted into a p≈0.01-sized
    * bloom filter (FilterDbFormat). `keys` are the DISTINCT partition
    * keys in stream order (the kernel records one per key group). */
  private def writeFilter(out: Path, base: String,
      keys: Vector[Long]): Unit = {
    import graft.sources.filterdb.FilterDbFormat
    val f = FilterDbFormat.create(keys.length.toLong)
    keys.foreach { k =>
      f.add(java.nio.ByteBuffer.allocate(8).putLong(k).array())
    }
    val s = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(out.resolve(base + FilterDbFormat.Suffix).toFile)))
    try FilterDbFormat.write(s, f) finally s.close()
  }

  /** Digest.crc32 (decimal CRC32 of Data.db as stored), CRC.db (per-chunk
    * CRC32s — uncompressed variant only, like Cassandra: a compressed
    * table's chunk integrity lives inside Data.db's chunk framing) +
    * TOC.txt (the component list), completing the real per-sstable file
    * set. */
  private def writeDigestAndToc(out: Path, base: String,
      dataFile: java.io.File, compressed: Boolean): Unit = {
    val crc = new java.util.zip.CRC32()
    val in = new java.io.FileInputStream(dataFile)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { crc.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    Files.write(out.resolve(base + "-Digest.crc32"),
      crc.getValue.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (!compressed) {
      import graft.sources.crcdb.CrcDbFormat
      val bytes = Files.readAllBytes(dataFile.toPath)
      val s = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(out.resolve(base + CrcDbFormat.Suffix).toFile)))
      try CrcDbFormat.write(s, CrcDbFormat.Crc(CrcDbFormat.DefaultChunkBytes,
        CrcDbFormat.chunkCrcs(bytes, CrcDbFormat.DefaultChunkBytes)))
      finally s.close()
    }
    val components = Seq("Data.db", "Index.db", "Statistics.db", "Filter.db",
      "Summary.db", "Digest.crc32", "TOC.txt") ++
      (if (compressed) Seq("CompressionInfo.db") else Seq("CRC.db"))
    Files.write(out.resolve(base + "-TOC.txt"),
      components.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** A real-envelope Statistics.db whose HEADER is the real
    * SerializationHeader; the STATS component carries the per-sstable
    * aggregates the encoding itself implies — all supplied as the
    * streaming kernel's running accumulators (value-identical to the old
    * whole-array folds). */
  private def writeStats(out: Path, base: String,
      header: SerializationHeaderInfo, partitions: Long, rowsN: Long,
      minCl: Long, maxCl: Long, minTsUs: Long, maxTsUs: Long,
      minLdtS: Long, maxLdtS: Long, maxTtlExpS: Long,
      nonMarkers: Long, level: Int = 0): Unit = {
    def clBlob(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(v).array()
    val stats = CassandraStatsFormat.Stats(
      partitionSize = CassandraStatsFormat.EstimatedHistogram(
        Array(1L), Array(partitions, 0L)),
      columnCount = CassandraStatsFormat.EstimatedHistogram(
        Array(1L), Array(rowsN, 0L)),
      commitLogUpper = CassandraStatsFormat.CommitLogPosition(0L, 0),
      minTimestampUs = minTsUs,
      maxTimestampUs = maxTsUs,
      minLocalDeletionTimeS = minLdtS.toInt,
      maxLocalDeletionTimeS = maxLdtS.toInt,
      minTtlS = header.minTtlS.toInt,
      maxTtlS = maxTtlExpS.toInt,
      compressionRatio = -1.0,
      tombstones = CassandraStatsFormat.TombstoneHistogram(
        Array.emptyDoubleArray, Array.emptyLongArray),
      level = level,
      repairedAtMs = 0L,
      minClustering = Seq(clBlob(minCl)),
      maxClustering = Seq(clBlob(maxCl)),
      hasLegacyCounterShards = false,
      totalColumnsSet = nonMarkers,
      totalRows = rowsN,
      commitLogLower = CassandraStatsFormat.CommitLogPosition(0L, 0),
      commitLogIntervals = Nil,
      pendingRepair = None,
      isTransient = false)
    val f = CassandraStatsFormat.File(
      CassandraStatsFormat.Validation(
        "org.apache.cassandra.dht.Murmur3Partitioner", 0.01),
      stats)
    val s = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(out.resolve(base + StatsSuffix).toFile)))
    try CassandraStatsFormat.write(s, f,
      Some(CassandraDataFormat.serializeHeader(header)))
    finally s.close()
  }

  /** Per-sstable sidecar accumulator (round 11): collects the
    * partition-boundary facts (index entries, summary samples, bloom
    * keys, first/last key) while a Data.db streams out, then writes the
    * complete uncompressed-family sidecars. Partitions carry no promoted
    * index here (feature-schema partitions are small; unindexed, as in
    * Cassandra). */
  private final class Sidecars(out: Path, base: String) {
    // long offset counter (DataOutputStream.size() saturates at 2 GiB)
    private val indexCounting = new graft.sources.CountingOutputStream(
      new BufferedOutputStream(new FileOutputStream(out.resolve(
        base + graft.sources.indexdb.IndexDbFormat.Suffix).toFile)))
    private val index = new DataOutputStream(indexCounting)
    private val summaryEntries =
      Vector.newBuilder[graft.sources.summarydb.SummaryDbFormat.Entry]
    private val bloomKeys = Vector.newBuilder[Long]
    private var firstKey: Array[Byte] = null
    private var lastKey: Array[Byte] = null
    private var n = 0L

    /** Record a partition starting at `position`; returns its key
      * bytes. */
    def partition(k: Long, position: Long): Array[Byte] = {
      val keyBytes = java.nio.ByteBuffer.allocate(8).putLong(k).array()
      bloomKeys += k
      if (n % MinIndexInterval == 0)
        summaryEntries += graft.sources.summarydb.SummaryDbFormat.Entry(
          keyBytes, indexCounting.count)
      if (firstKey == null) firstKey = keyBytes
      lastKey = keyBytes
      n += 1
      graft.sources.indexdb.IndexDbFormat.writeEntry(index, keyBytes,
        position, Array.emptyByteArray)
      keyBytes
    }

    def abort(): Unit = index.close()

    /** Close the index and write Filter/Summary/Digest/CRC/TOC (the
      * caller has already closed `dataFile` and written
      * Statistics.db). */
    def finish(dataFile: java.io.File): Unit = {
      index.close()
      writeFilter(out, base, bloomKeys.result())
      writeSummary(out, base, summaryEntries.result(), firstKey, lastKey)
      writeDigestAndToc(out, base, dataFile, compressed = false)
    }
  }

  // ------------------------------------------- round-9 feature variant

  /** The FEATURE variant sstable set ("fb-<g>-big"): a schema WITH a
    * static column, a simple regular and a complex regular, exercising the
    * row-level metadata the default set never writes — static rows,
    * primary-key liveness (with and without row TTL), row deletions and
    * complex-column deletions — all now surfaced as typed events by the
    * reader (q110). The deterministic model is replayable from parquet:
    * per distinct l_orderkey `k`, sstable `fb-(k%4)`, rows at clusterings
    * `0 .. k%3`:
    *  - partition deletion iff k%19==0: (T0 + k*10 + 2, D2 + k%40)
    *  - static row iff k%3==0: s0 value of k%23 bytes, ts = T0 + k;
    *    carries its own pk liveness iff k%9==0 (ts = T0 + k + 5, no TTL)
    *    and its own row deletion iff k%17==0 (T1 + k + 5, D1 + k%70)
    *  - pk liveness iff k%2==0: ts = T0 + k*10 + c; row TTL 3600 with
    *    ldt = D0 + k%1000 iff k%10==0
    *  - row deletion iff k%11==0 on clustering 0: (T1 + k, D1 + k%100)
    *  - complex deletion iff k%13==0: (T2 + k, D2 + k%50) on `tags`
    *  - every row: one c0 cell ((k+c)%31 bytes, ts = T0 + k*10 + c + 1)
    *    and two `tags` cells (paths 1,2; (k+c+i)%7 bytes,
    *    ts = T0 + k*10 + c + 2 + i). */
  val FeatureT0 = 1000000000000L
  val FeatureT1 = 2000000000000L
  val FeatureT2 = 3000000000000L
  val FeatureD0 = 500000000L
  val FeatureD1 = 600000000L
  val FeatureD2 = 700000000L

  val FeatureStatics: Seq[ColumnSpec] = Seq(ColumnSpec(
    "s0".getBytes(java.nio.charset.StandardCharsets.UTF_8),
    Marshal.Prefix + "BytesType"))
  val FeatureRegulars: Seq[ColumnSpec] = Seq(
    ColumnSpec("c0".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Marshal.Prefix + "BytesType"),
    ColumnSpec("tags".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Marshal.Prefix + s"MapType(${Marshal.Prefix}LongType," +
        s"${Marshal.Prefix}BytesType)"))

  /** Shared by writer and reader (q110 focuses on the row codec; the
    * header-through-Statistics.db path is proven by q62/q67/q100). */
  val FeatureHeader: SerializationHeaderInfo = SerializationHeaderInfo(
    minTimestampUs = FeatureT0,
    minLocalDeletionTimeS = FeatureD0,
    minTtlS = 0L,
    keyType = Marshal.Prefix + "LongType",
    clusteringTypes = Seq(Marshal.Prefix + "LongType"),
    staticColumns = FeatureStatics,
    regularColumns = FeatureRegulars)

  def ensureFeatureFiles(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|features")(
      TempDirs.fill("graft-cassfeature-fixture")(
        writeFeatureAll(spark, dir, _)))

  private def blobOf(len: Long, seed: Long): Array[Byte] = {
    val b = new Array[Byte](len.toInt)
    var i = 0
    while (i < b.length) { b(i) = (seed + i * 17).toByte; i += 1 }
    b
  }

  private def writeFeatureAll(spark: SparkSession, dir: String,
      out: Path): Unit = {
    val keys = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").cast("long").as("k")).distinct()
      .orderBy("k").collect().map(_.getLong(0))
    keys.groupBy(_ % 4).toSeq.sortBy(_._1).foreach { case (g, ks) =>
      val base = s"fb-$g-big"
      val dataFile = out.resolve(base + DataDbFormat.Suffix).toFile
      val data = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(dataFile), 1 << 16))
      // complete sidecar family (round 11): the feature INPUT set splits
      // and point-reads like every other real-format set
      val sidecars = new Sidecars(out, base)
      try {
        val w = new Writer(data, FeatureHeader)
        ks.foreach { k =>
          val keyBytes = sidecars.partition(k, w.position)
          // partition-level deletion iff k%19==0 (surfaced as a
          // PARTITION_DELETION event by the reader, round 9). The
          // markedForDeleteAt sits BETWEEN the partition's cell
          // timestamps (T0 + k*10 + 2), so the q121 shadowing rule
          // (cell ts <= mfda) genuinely bisects each deleted partition
          // instead of trivially covering it.
          w.writePartitionStart(keyBytes,
            deletion = if (k % 19 == 0)
              Some((FeatureT0 + k * 10 + 2, FeatureD2 + k % 40)) else None)
          if (k % 3 == 0)
            w.write(WriteStaticRow(Seq(WriteCell(0, path = null,
              isDeleted = false, isExpiring = false,
              timestampUs = FeatureT0 + k, ttlS = NoTtlS,
              localDeletionTimeS = NoDeletionTimeS,
              value = blobOf(k % 23, k))),
              // static rows carry liveness/deletion like regular rows
              pkLiveness =
                if (k % 9 == 0)
                  Some((FeatureT0 + k + 5, NoTtlS, NoDeletionTimeS))
                else None,
              rowDeletion =
                if (k % 17 == 0)
                  Some((FeatureT1 + k + 5, FeatureD1 + k % 70)) else None))
          (0L to k % 3).foreach { c =>
            val liveness =
              if (k % 2 == 0)
                Some((FeatureT0 + k * 10 + c,
                  if (k % 10 == 0) 3600L else NoTtlS,
                  if (k % 10 == 0) FeatureD0 + k % 1000 else NoDeletionTimeS))
              else None
            val deletion =
              if (k % 11 == 0 && c == 0)
                Some((FeatureT1 + k, FeatureD1 + k % 100)) else None
            val complexDel =
              if (k % 13 == 0)
                Some((FeatureT2 + k, FeatureD2 + k % 50)) else None
            val cells =
              WriteCell(0, path = null, isDeleted = false,
                isExpiring = false, timestampUs = FeatureT0 + k * 10 + c + 1,
                ttlS = NoTtlS, localDeletionTimeS = NoDeletionTimeS,
                value = blobOf((k + c) % 31, k + c)) +:
                (0L to 1L).map { i =>
                  WriteCell(1,
                    path = java.nio.ByteBuffer.allocate(8)
                      .putLong(i + 1).array(),
                    isDeleted = false, isExpiring = false,
                    timestampUs = FeatureT0 + k * 10 + c + 2 + i,
                    ttlS = NoTtlS, localDeletionTimeS = NoDeletionTimeS,
                    value = blobOf((k + c + i) % 7, k + c + i))
                }
            w.write(WriteRow(c, cells, pkLiveness = liveness,
              rowDeletion = deletion, complexDeletion = complexDel))
          }
          w.writePartitionEnd()
        }
      } catch {
        case t: Throwable => sidecars.abort(); throw t
      } finally data.close()
      writeFeatureStats(out, base)
      sidecars.finish(dataFile)
    }
  }

  /** Round 11 (executed feature compaction): write ONE COMPACTED
    * feature-schema sstable ("fb-<shard>-big" + its Statistics.db with the
    * real FeatureHeader) from an iterator of SURVIVING typed events —
    * `(key, clustering, column_name, kind, timestamp_us, ttl_s,
    * local_deletion_time_s, value)` in the scan's own event vocabulary.
    * The kernel reassembles rows from events: partition deletions become
    * the partition header's DeletionTime, static-clustering events a
    * static row, and each regular clustering a row carrying its surviving
    * pk liveness / row deletion / complex deletion / cells (tags cells
    * re-pathed 1..n in timestamp order — paths are not scan-visible and
    * the model's path order IS its timestamp order). A complex deletion
    * whose cells were all shadowed keeps its column slot via
    * [[CassandraDataFormat.WriteRow.emptyComplexColumns]]. The DSv2
    * sink's feature-schema writer ([[FeatureSstableWriter]]) calls this
    * once per `sstable_id` run — the same per-sstable write grain as
    * [[writeSstableFrom]].
    *
    * Emits the COMPLETE sidecar family (Index/Filter/Summary/Statistics/
    * Digest/CRC/TOC, round 11) — the compacted output participates in
    * split planning and pushed point reads like any sink-written
    * sstable. Partitions are tiny here, so index entries carry no
    * promoted index (unindexed partitions, as in Cassandra). */
  def writeFeatureCompacted(out: Path, shard: Long,
      events: Iterator[FeatureEv]): Unit = {
    val evs = events.toArray
    require(evs.nonEmpty, s"writeFeatureCompacted: no events for shard $shard")
    java.util.Arrays.sort(evs, FeatureTupleOrdering)
    writeFeatureCompactedSorted(out, shard, evs.iterator)
  }

  /** Event tuple of the feature write surface: `(key, clustering,
    * column_name, kind, timestamp_us, ttl_s, local_deletion_time_s,
    * value)`. */
  type FeatureEv = (Long, Long, String, String, Long, Long, Long,
    Array[Byte])

  /** Total stream order of the feature write kernel: partitions by key
    * (the partition-deletion sentinel clustering -2 sorts before every
    * row), clusterings ascending, then (kind, column, timestamp) within
    * the row. Shared by the array path's single in-place sort and the
    * DSv2 sink's spill runs (round 12) — a stream in this order writes
    * in one pass. */
  val FeatureTupleOrdering: Ordering[FeatureEv] =
    Ordering.by((t: FeatureEv) => (t._1, t._2, t._4, t._3, t._5))

  /** [[writeFeatureCompacted]] for a stream ALREADY in
    * [[FeatureTupleOrdering]] (round 12: the sink's spill-bounded feature
    * path): the kernel consumes one clustering group at a time, so live
    * task heap is O(one row's events) — never O(shard). */
  def writeFeatureCompactedSorted(out: Path, shard: Long,
      sorted: Iterator[FeatureEv]): Unit = {
    val it = sorted.buffered
    require(it.hasNext,
      s"writeFeatureCompactedSorted: no events for shard $shard")
    val base = s"fb-$shard-big"
    val dataFile = out.resolve(base + DataDbFormat.Suffix).toFile
    val data = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(dataFile), 1 << 16))
    val sidecars = new Sidecars(out, base)
    try {
      val w = new Writer(data, FeatureHeader)
      while (it.hasNext) {
        val k = it.head._1
        // partition deletions ride the sentinel clustering, which sorts
        // first within the partition — consume them before the rows
        val pd = ArrayBuffer.empty[FeatureEv]
        while (it.hasNext && it.head._1 == k &&
            it.head._2 == DataDbFormat.PartitionClustering) pd += it.next()
        require(pd.forall(_._4 == DataDbFormat.KindPartitionDeletion),
          s"non-deletion event at the partition clustering for key $k")
        val keyBytes = sidecars.partition(k, w.position)
        w.writePartitionStart(keyBytes,
          deletion = pd.sortBy(_._5).lastOption.map(e => (e._5, e._7)))
        val rev = ArrayBuffer.empty[FeatureEv]
        while (it.hasNext && it.head._1 == k) {
          val cl = it.head._2
          rev.clear()
          while (it.hasNext && it.head._1 == k && it.head._2 == cl)
            rev += it.next()
          require(rev.forall(_._4 != DataDbFormat.KindPartitionDeletion),
            s"partition deletion at a non-partition clustering for key $k")
          writeFeatureRow(w, k, cl, rev)
        }
        w.writePartitionEnd()
      }
    } catch {
      case t: Throwable => sidecars.abort(); throw t
    } finally data.close()
    writeFeatureStats(out, base)
    sidecars.finish(dataFile)
  }

  /** One clustering group (a static or regular row), assembled exactly
    * as the array kernel always did — the group arrives in
    * [[FeatureTupleOrdering]], so the within-group sortBy/lastOption
    * tiebreaks are unchanged from the whole-array form. */
  private def writeFeatureRow(w: Writer, k: Long, cl: Long,
      rev: collection.IndexedSeq[FeatureEv]): Unit = {
    def bytesOf(v: Array[Byte]): Array[Byte] =
      if (v == null) Array.emptyByteArray else v
    val liveness = rev.filter(_._4 == DataDbFormat.KindRowLiveness)
      .sortBy(_._5).lastOption.map(e => (e._5, e._6, e._7))
    val rowDel = rev.filter(_._4 == DataDbFormat.KindRowDeletion)
      .sortBy(_._5).lastOption.map(e => (e._5, e._7))
    if (cl == DataDbFormat.StaticClustering) {
      val cells = rev
        .filter(_._4 == DataDbFormat.KindStaticCell).map { e =>
          require(e._3 == "s0",
            s"unexpected static column ${e._3} in feature set")
          WriteCell(0, path = null, isDeleted = false,
            isExpiring = false, timestampUs = e._5, ttlS = NoTtlS,
            localDeletionTimeS = NoDeletionTimeS,
            value = bytesOf(e._8))
        }
      require(rev.forall(e =>
        e._4 == DataDbFormat.KindStaticCell ||
          e._4 == DataDbFormat.KindRowLiveness ||
          e._4 == DataDbFormat.KindRowDeletion),
        s"unexpected static-row event kind for key $k")
      w.write(WriteStaticRow(cells.toIndexedSeq,
        pkLiveness = liveness, rowDeletion = rowDel))
    } else {
      val cdel = rev.filter(_._4 == DataDbFormat.KindComplexDeletion)
        .sortBy(_._5).lastOption
      cdel.foreach(e => require(e._3 == "tags",
        s"unexpected complex-deletion column ${e._3}"))
      val c0 = rev
        .filter(e => e._4 == DataDbFormat.KindCell && e._3 == "c0")
        .map(e => WriteCell(0, path = null, isDeleted = false,
          isExpiring = false, timestampUs = e._5, ttlS = NoTtlS,
          localDeletionTimeS = NoDeletionTimeS,
          value = bytesOf(e._8)))
      val tags = rev
        .filter(e => e._4 == DataDbFormat.KindCell && e._3 == "tags")
        .sortBy(_._5).zipWithIndex
        .map { case (e, idx) =>
          WriteCell(1,
            path = java.nio.ByteBuffer.allocate(8)
              .putLong(idx + 1L).array(),
            isDeleted = false, isExpiring = false,
            timestampUs = e._5, ttlS = NoTtlS,
            localDeletionTimeS = NoDeletionTimeS,
            value = bytesOf(e._8))
        }
      require(rev.forall(e =>
        e._4 == DataDbFormat.KindCell ||
          e._4 == DataDbFormat.KindRowLiveness ||
          e._4 == DataDbFormat.KindRowDeletion ||
          e._4 == DataDbFormat.KindComplexDeletion),
        s"unexpected row event kind for key $k")
      w.write(WriteRow(cl, (c0 ++ tags).toIndexedSeq,
        pkLiveness = liveness, rowDeletion = rowDel,
        complexDeletion = cdel.map(e => (e._5, e._7)),
        emptyComplexColumns =
          if (cdel.nonEmpty && tags.isEmpty) Seq(1) else Nil))
    }
  }

  /** Minimal valid Statistics.db for the feature set: the VALIDATION /
    * STATS envelope with placeholder histograms plus the REAL serialized
    * FeatureHeader — exactly what the DSv2 `format=cassandra` reader needs
    * to decode the files through the production scan path (splits,
    * pruning, vectorized batches). The stats VALUES are placeholders (the
    * stats-value roundtrip is q62/q100's job); the HEADER bytes are
    * load-bearing. */
  private def writeFeatureStats(out: Path, base: String,
      header: SerializationHeaderInfo = FeatureHeader): Unit = {
    def clBlob(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(v).array()
    val stats = CassandraStatsFormat.Stats(
      partitionSize = CassandraStatsFormat.EstimatedHistogram(
        Array(1L), Array(1L, 0L)),
      columnCount = CassandraStatsFormat.EstimatedHistogram(
        Array(1L), Array(1L, 0L)),
      commitLogUpper = CassandraStatsFormat.CommitLogPosition(0L, 0),
      minTimestampUs = FeatureT0,
      maxTimestampUs = FeatureT2 * 2,
      minLocalDeletionTimeS = FeatureD0.toInt,
      maxLocalDeletionTimeS = Int.MaxValue,
      minTtlS = 0,
      maxTtlS = 3600,
      compressionRatio = -1.0,
      tombstones = CassandraStatsFormat.TombstoneHistogram(
        Array.emptyDoubleArray, Array.emptyLongArray),
      level = 0,
      repairedAtMs = 0L,
      minClustering = Seq(clBlob(DataDbFormat.StaticClustering)),
      maxClustering = Seq(clBlob(2L)),
      hasLegacyCounterShards = false,
      totalColumnsSet = 0L,
      totalRows = 0L,
      commitLogLower = CassandraStatsFormat.CommitLogPosition(0L, 0),
      commitLogIntervals = Nil,
      pendingRepair = None,
      isTransient = false)
    val f = CassandraStatsFormat.File(
      CassandraStatsFormat.Validation(
        "org.apache.cassandra.dht.Murmur3Partitioner", 0.01),
      stats)
    val s = new DataOutputStream(new BufferedOutputStream(
      new FileOutputStream(out.resolve(base + StatsSuffix).toFile)))
    try CassandraStatsFormat.write(s, f,
      Some(CassandraDataFormat.serializeHeader(header)))
    finally s.close()
  }

  // ------------------------------------- round-9 static-complex variant

  /** The STATIC-COMPLEX variant sstable set ("fs-<g>-big"): a schema
    * whose STATIC columns include a complex one (`stags`:
    * map<long, bytes>) next to a simple one (`s0`), closing the last
    * row-codec rejection — Cassandra's static Row is the same Row
    * structure as a regular one, so complex statics serialize exactly
    * like complex regulars (optional complex deletion, cell count,
    * path-ordered cells). Deterministic model, replayable from parquet:
    * per distinct l_orderkey `k`, sstable `fs-(k%3)`:
    *  - a static row on EVERY partition: one s0 cell (k%13 bytes,
    *    ts = T0 + k) and 1 + k%2 `stags` cells (paths 1..n,
    *    (k+i)%9 bytes, ts = T0 + k + 3 + i for i in 0..k%2);
    *    pk liveness iff k%5==0 (ts = T0 + k + 1, no TTL);
    *    static complex deletion iff k%7==0: (T2 + k, D2 + k%30)
    *  - one regular row at clustering 0: one c0 cell (k%17 bytes,
    *    ts = T0 + k*2). */
  val StaticComplexStatics: Seq[ColumnSpec] = Seq(
    ColumnSpec("s0".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Marshal.Prefix + "BytesType"),
    ColumnSpec("stags".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Marshal.Prefix + s"MapType(${Marshal.Prefix}LongType," +
        s"${Marshal.Prefix}BytesType)"))
  val StaticComplexRegulars: Seq[ColumnSpec] = Seq(
    ColumnSpec("c0".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      Marshal.Prefix + "BytesType"))

  val StaticComplexHeader: SerializationHeaderInfo = SerializationHeaderInfo(
    minTimestampUs = FeatureT0,
    minLocalDeletionTimeS = FeatureD0,
    minTtlS = 0L,
    keyType = Marshal.Prefix + "LongType",
    clusteringTypes = Seq(Marshal.Prefix + "LongType"),
    staticColumns = StaticComplexStatics,
    regularColumns = StaticComplexRegulars)

  def ensureStaticComplexFiles(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|staticcomplex")(
      TempDirs.fill("graft-cassstatic-fixture")(
        writeStaticComplexAll(spark, dir, _)))

  private def writeStaticComplexAll(spark: SparkSession, dir: String,
      out: Path): Unit = {
    val keys = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").cast("long").as("k")).distinct()
      .orderBy("k").collect().map(_.getLong(0))
    keys.groupBy(_ % 3).toSeq.sortBy(_._1).foreach { case (g, ks) =>
      val base = s"fs-$g-big"
      val dataFile = out.resolve(base + DataDbFormat.Suffix).toFile
      val data = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(dataFile), 1 << 16))
      val sidecars = new Sidecars(out, base)
      try {
        val w = new Writer(data, StaticComplexHeader)
        ks.foreach { k =>
          val keyBytes = sidecars.partition(k, w.position)
          w.writePartitionStart(keyBytes, deletion = None)
          val stagsCells = (0L to k % 2).map { i =>
            WriteCell(1,
              path = java.nio.ByteBuffer.allocate(8).putLong(i + 1).array(),
              isDeleted = false, isExpiring = false,
              timestampUs = FeatureT0 + k + 3 + i, ttlS = NoTtlS,
              localDeletionTimeS = NoDeletionTimeS,
              value = blobOf((k + i) % 9, k + i))
          }
          w.write(WriteStaticRow(
            WriteCell(0, path = null, isDeleted = false, isExpiring = false,
              timestampUs = FeatureT0 + k, ttlS = NoTtlS,
              localDeletionTimeS = NoDeletionTimeS,
              value = blobOf(k % 13, k)) +: stagsCells,
            pkLiveness =
              if (k % 5 == 0)
                Some((FeatureT0 + k + 1, NoTtlS, NoDeletionTimeS))
              else None,
            complexDeletion =
              if (k % 7 == 0)
                Some((FeatureT2 + k, FeatureD2 + k % 30)) else None))
          w.write(WriteRow(0L, Seq(
            WriteCell(0, path = null, isDeleted = false, isExpiring = false,
              timestampUs = FeatureT0 + k * 2, ttlS = NoTtlS,
              localDeletionTimeS = NoDeletionTimeS,
              value = blobOf(k % 17, k)))))
          w.writePartitionEnd()
        }
      } catch {
        case t: Throwable => sidecars.abort(); throw t
      } finally data.close()
      writeFeatureStats(out, base, StaticComplexHeader)
      sidecars.finish(dataFile)
    }
  }
}
