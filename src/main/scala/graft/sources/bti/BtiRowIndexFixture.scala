package graft.sources.bti

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo, TempDirs}

/** Materializes the lineitem partition index as FULL bti sstable sets —
  * `X-Partitions.db` AND `X-Rows.db` — with the real large-partition
  * shape: partitions wider than [[BlockBytes]] get a row-index trie in
  * Rows.db and their Partitions.db payload stores `~entryOffset`; small
  * partitions store the direct Data.db position.
  *
  * Separator keys are CLUSTERING PREFIXES (VERDICT r8 ask #3), not block
  * ordinals: block `b` of partition `key` is keyed by the byte-comparable
  * [[KeyValidator.CompositeKey]]([[KeyValidator.LongKey]]) encoding of
  * its first clustering value — the same composite layout the q59/q63
  * typed-key decode and the big-format promoted index (q79) model. The
  * fixture's deterministic clustering model is
  * `firstClustering(key, b) = key * ClusteringStride + b` (strictly
  * increasing within a partition, so the separators are trie-sortable and
  * every value is oracle-recomputable from parquet). Block offsets are
  * ascending multiples of [[BlockBytes]] within the partition; positions
  * are the same running size sum in key order as [[BtiFixture]] /
  * IndexDbFixture (blocks = ceil(size / BlockBytes)).
  * Memoization/cleanup contract mirrors the other fixture writers. */
object BtiRowIndexFixture {

  /** Row-index granularity: a partition larger than this gets indexed.
    * (Cassandra's column_index_size_in_kb analog, fixed for determinism.) */
  val BlockBytes = 4096L

  /** Deterministic clustering model: block b's first clustering is
    * `key * ClusteringStride + b`. Stride bounds the representable block
    * ordinal per partition (checked at write). */
  val ClusteringStride = 4096L

  /** The separator key type: a one-component composite over a bigint
    * clustering column — `CompositeType(LongType)`'s on-disk layout
    * (2-byte be length, component bytes, end-of-component byte). */
  val SepValidator: graft.sources.KeyValidator.CompositeKey =
    graft.sources.KeyValidator.CompositeKey(
      graft.sources.KeyValidator.LongKey)

  /** Encoded separator for block `b` of partition `key`. */
  def separator(key: Long, b: Long): Array[Byte] =
    SepValidator.encode(Seq(key * ClusteringStride + b))

  /** Decodes a separator back to its clustering long; IOException on any
    * framing violation (wrong length prefix, missing end byte). */
  def decodeSeparator(sep: Array[Byte]): Long = {
    if (sep.length != 11 || sep(0) != 0 || sep(1) != 8 || sep(10) != 0)
      throw new java.io.IOException(
        s"malformed composite clustering separator (${sep.length} bytes)")
    java.nio.ByteBuffer.wrap(sep, 2, 8).getLong
  }

  private val memo = new SessionMemo[String](TempDirs.deleteDir)

  def ensureFiles(spark: SparkSession, dir: String): String =
    memo(spark, dir)(
      TempDirs.fill("graft-bti-rowindex-fixture")(writeAll(spark, dir, _)))

  private def writeAll(spark: SparkSession, dir: String, out: Path): Unit = {
    val rows = Fixtures.liPscan(spark, dir)
      .select(col("sstable_id"), col("key"), col("size"),
        col("range_tombstone_count"), col("min_timestamp_us"),
        col("min_local_deletion_time_s"))
      .orderBy("sstable_id", "key")
      .collect()
    var current: String = null
    var entries = Vector.empty[(Array[Byte], Long)] // (key, payload pos)
    var rowsWriter: BtiRowsFormat.Writer = null
    var position = 0L
    def be8(v: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(8).putLong(v).array()
    def flush(): Unit = if (current != null) {
      Files.write(out.resolve(current + BtiTrieFormat.Suffix),
        BtiTrieFormat.write(entries.iterator))
      Files.write(out.resolve(current + BtiRowsFormat.Suffix),
        rowsWriter.finish())
      entries = Vector.empty
    }
    rows.foreach { r =>
      val sst = r.getString(0)
      if (sst != current) {
        flush()
        current = sst
        rowsWriter = new BtiRowsFormat.Writer
        position = 0L
      }
      val size = r.getLong(2)
      val key = r.getLong(1)
      val nblocks = (size + BlockBytes - 1) / BlockBytes
      val pos =
        if (nblocks > 1) {
          require(nblocks <= ClusteringStride,
            s"partition $key needs $nblocks blocks > stride $ClusteringStride")
          // open-marker model: a partition whose scan saw range-tombstone
          // markers is treated as one range deletion spanning the whole
          // partition, so every block AFTER the first starts under the open
          // marker (block 0 starts at the partition head, never mid-range);
          // the marker's deletion time is the partition's earliest write —
          // both fields recomputable from parquet by the q103 oracle
          val hasMarker = r.getLong(3) > 0
          val mdUs = r.getLong(4)
          val ldtS = r.getLong(5)
          val blocks = (0L until nblocks).map { b =>
            val marker =
              if (hasMarker && b > 0) Some((mdUs, ldtS)) else None
            (separator(key, b), b * BlockBytes, marker)
          }
          ~rowsWriter.append(blocks, position)
        } else position
      entries :+= ((be8(r.getLong(1)), pos))
      position += size
    }
    flush()
  }
}
