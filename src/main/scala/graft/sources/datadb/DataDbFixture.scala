package graft.sources.datadb

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo, TempDirs}

/** Materializes the lineitem cell-event fixture as REAL binary Data.db
  * files (DataDbFormat), so the DataSource V2 path is exercised — and
  * oracle-checked — end to end: parquet cells → binary encode → file →
  * DSv2 parse → relational aggregate must equal the DuckDB recomputation
  * from the same parquet inputs.
  *
  * Partition blocks are written in ascending (key) order per sstable with
  * events ordered by (clustering, column_name, timestamp_us) inside each
  * block — SSTables are key-sorted on disk, which the reference's k-way
  * merge relies on (AbstractSSTableReader.java:28-30); our reader does not
  * need the sortedness, but the files should look like what Cassandra
  * writes. Driver-side sequential writes are fine here: this is fixture
  * generation (the real deployment reads files Cassandra already wrote),
  * not query execution. */
object DataDbFixture {

  private val memo = new SessionMemo[String](TempDirs.deleteDir)

  def ensureFiles(spark: SparkSession, dir: String): String =
    memo(spark, dir)(
      TempDirs.fill("graft-datadb-fixture")(writeAll(spark, dir, _)))

  /** Each Data.db gets a companion Index.db sidecar whose positions are the
    * REAL byte offsets of the partition blocks (what Cassandra's partition
    * index stores) — the DSv2 scan splits large files at those offsets. */
  private def writeAll(spark: SparkSession, dir: String, out: Path): Unit = {
    val rows = Fixtures.cells(spark, dir)
      .select(col("sstable_id"), col("key"), col("clustering"),
        col("column_name"), col("kind"), col("timestamp_us"), col("ttl_s"),
        col("local_deletion_time_s"), col("is_tombstone"), col("is_expiring"),
        col("is_counter"), col("is_live"), col("size_bytes"))
      .orderBy("sstable_id", "key", "clustering", "column_name", "timestamp_us")
      .collect()
    var currentSst: String = null
    var currentKey: Long = Long.MinValue
    var inPartition = false
    var stream: DataOutputStream = null
    var index: DataOutputStream = null

    def closeStreams(): Unit = {
      if (stream != null) {
        if (inPartition) DataDbFormat.writePartitionEnd(stream)
        stream.close()
        index.close()
      }
    }

    // on any mid-write throw the open streams must not leak (the caller
    // deletes the half-written tree, which needs the handles closed first)
    try {
      rows.foreach { r =>
        val sst = r.getString(0)
        val key = r.getLong(1)
        if (sst != currentSst) {
          closeStreams()
          stream = new DataOutputStream(new BufferedOutputStream(
            new FileOutputStream(out.resolve(sst + DataDbFormat.Suffix).toFile)))
          index = new DataOutputStream(new BufferedOutputStream(
            new FileOutputStream(out.resolve(
              sst + graft.sources.indexdb.IndexDbFormat.Suffix).toFile)))
          currentSst = sst
          inPartition = false
        }
        if (!inPartition || key != currentKey) {
          if (inPartition) DataDbFormat.writePartitionEnd(stream)
          val keyBytes = java.nio.ByteBuffer.allocate(8).putLong(key).array()
          // DataOutputStream.size() is the block's byte offset (int-sized is
          // fine for fixtures; real files would track a long)
          graft.sources.indexdb.IndexDbFormat.writeEntry(index, keyBytes,
            stream.size().toLong)
          DataDbFormat.writePartitionHeader(stream, keyBytes)
          currentKey = key
          inPartition = true
        }
        DataDbFormat.writeEvent(stream, DataDbFormat.Event(
          key = null, // the block header carries the key
          clustering = r.getLong(2),
          columnNameBytes = r.getString(3)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8),
          kindCode = DataDbFormat.KindStrings.indexOf(r.getString(4)),
          flags = DataDbFormat.flagsOf(r.getBoolean(8), r.getBoolean(9),
            r.getBoolean(10), r.getBoolean(11)),
          timestampUs = r.getLong(5),
          ttlS = r.getLong(6),
          localDeletionTimeS = r.getLong(7),
          sizeBytes = r.getLong(12)))
      }
    } finally closeStreams()
  }
}
