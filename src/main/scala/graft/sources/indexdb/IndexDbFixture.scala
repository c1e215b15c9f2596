package graft.sources.indexdb

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo, TempDirs}

/** Materializes the lineitem partition-index fixture as REAL binary Index.db
  * files (IndexDbFormat), so the DataSource V2 path can be exercised — and
  * oracle-checked — end to end: fixture pscan → binary encode → file →
  * DSv2 parse → relational aggregate must equal the DuckDB recomputation
  * from the same parquet inputs.
  *
  * Generation is per-(session, sfDir), memoized, and writes through a temp
  * directory; entries are written in ascending key order with position =
  * running sum of sizes, exactly the semantics the oracle's window SQL
  * re-derives. Driver-side sequential writes are fine here: this is fixture
  * generation (the real deployment reads files Cassandra already wrote),
  * not query execution. */
object IndexDbFixture {

  private val memo = new SessionMemo[String](TempDirs.deleteDir)

  def ensureFiles(spark: SparkSession, dir: String): String =
    ensure(spark, s"long|$dir")(writeAll(spark, dir, _))

  /** Index.db files whose keys are COMPOSITE (long orderkey, utf8 tag) —
    * the X4 typed-key fixture: Cassandra CompositeType layout on disk
    * (KeyValidator.CompositeKey), exercised by the q59 raw roundtrip. */
  def ensureCompositeFiles(spark: SparkSession, dir: String): String =
    ensure(spark, s"composite|$dir")(writeComposite(spark, dir, _))

  def ensureTypedFiles(spark: SparkSession, dir: String): String =
    ensure(spark, s"typed|$dir")(writeTyped(spark, dir, _))

  private def ensure(spark: SparkSession, key: String)(
      write: Path => Unit): String =
    memo(spark, key)(TempDirs.fill("graft-indexdb-fixture")(write))

  private def writeAll(spark: SparkSession, dir: String, out: Path): Unit = {
    val rows = Fixtures.liPscan(spark, dir)
      .select(col("sstable_id"), col("key"), col("size"))
      .orderBy("sstable_id", "key")
      .collect()
    var current: String = null
    var stream: DataOutputStream = null
    var position = 0L
    // on any mid-write throw the open stream must not leak (the caller
    // deletes the half-written tree, which needs the handle closed first)
    try {
      rows.foreach { r =>
        val sst = r.getString(0)
        if (sst != current) {
          if (stream != null) stream.close()
          stream = new DataOutputStream(new BufferedOutputStream(
            new FileOutputStream(out.resolve(sst + IndexDbFormat.Suffix).toFile)))
          current = sst
          position = 0L
        }
        val keyBytes = java.nio.ByteBuffer.allocate(8).putLong(r.getLong(1)).array()
        // a small promoted-index blob proves the reader's skip path on every entry
        IndexDbFormat.writeEntry(stream, keyBytes, position,
          promoted = Array.fill((r.getLong(1) % 4).toInt)(0x5a.toByte))
        position += r.getLong(2)
      }
    } finally if (stream != null) stream.close()
  }

  /** Same layout as [[writeAll]] but keys are Cassandra-composite
    * (long orderkey, utf8 "k<orderkey mod 97>") — the typed-key decode
    * fixture. Binary composite order equals orderkey order here (the first
    * component is a non-negative big-endian long), so entries stay sorted. */
  private def writeComposite(spark: SparkSession, dir: String,
      out: Path): Unit = {
    import graft.sources.KeyValidator
    val validator = KeyValidator.CompositeKey(
      KeyValidator.LongKey, KeyValidator.Utf8Key)
    val rows = Fixtures.liPscan(spark, dir)
      .select(col("sstable_id"), col("key"), col("size"))
      .orderBy("sstable_id", "key")
      .collect()
    var current: String = null
    var stream: DataOutputStream = null
    var position = 0L
    try {
      rows.foreach { r =>
        val sst = r.getString(0)
        if (sst != current) {
          if (stream != null) stream.close()
          stream = new DataOutputStream(new BufferedOutputStream(
            new FileOutputStream(out.resolve(sst + IndexDbFormat.Suffix).toFile)))
          current = sst
          position = 0L
        }
        val k = r.getLong(1)
        val keyBytes = validator.encode(Seq(k, s"k${k % 97}"))
        IndexDbFormat.writeEntry(stream, keyBytes, position,
          promoted = Array.empty)
        position += r.getLong(2)
      }
    } finally if (stream != null) stream.close()
  }

  /** Typed-key fixture for the round-6 validator set: composite
    * (uuid, int32, timestamp) keys derived deterministically from the
    * orderkey — uuid = md5 bytes of the decimal key string (recomputable in
    * DuckDB as `md5(CAST(key AS VARCHAR))`), int32 = key%1000 − 500
    * (exercises negatives), timestamp = key·1000 + key%997 ms. Entries are
    * written in orderkey order (positions accumulate the same offset-delta
    * relation as [[writeAll]]); BINARY key order differs — the checksum
    * query is order-agnostic, and real Index.db files are only sorted by
    * the partitioner's token anyway. A small promoted-index blob per entry
    * proves the skip path. */
  private def writeTyped(spark: SparkSession, dir: String,
      out: Path): Unit = {
    import graft.sources.KeyValidator
    val validator = KeyValidator.CompositeKey(KeyValidator.UuidKey,
      KeyValidator.Int32Key, KeyValidator.TimestampKey)
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val rows = Fixtures.liPscan(spark, dir)
      .select(col("sstable_id"), col("key"), col("size"))
      .orderBy("sstable_id", "key")
      .collect()
    var current: String = null
    var stream: DataOutputStream = null
    var position = 0L
    try {
      rows.foreach { r =>
        val sst = r.getString(0)
        if (sst != current) {
          if (stream != null) stream.close()
          stream = new DataOutputStream(new BufferedOutputStream(
            new FileOutputStream(out.resolve(sst + IndexDbFormat.Suffix).toFile)))
          current = sst
          position = 0L
        }
        val k = r.getLong(1)
        val uuid = md5.digest(k.toString.getBytes("UTF-8"))
        val keyBytes = validator.encode(Seq(
          uuid, (k % 1000 - 500).toInt, k * 1000L + k % 997))
        IndexDbFormat.writeEntry(stream, keyBytes, position,
          promoted = Array.fill((k % 3).toInt)(0x5a.toByte))
        position += r.getLong(2)
      }
    } finally if (stream != null) stream.close()
  }
}
