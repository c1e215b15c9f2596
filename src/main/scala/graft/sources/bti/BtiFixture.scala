package graft.sources.bti

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo, TempDirs}

/** Materializes the SAME logical partition index as
  * [[graft.sources.indexdb.IndexDbFixture]] (lineitem pscan: 8-byte
  * big-endian long keys, position = running size sum in key order) as bti
  * Partitions.db tries — so a bti scan and the big-format Index.db scan
  * must produce identical relations, which is exactly what q101 pins.
  * Memoization/cleanup contract mirrors the other fixture writers. */
object BtiFixture {

  private val memo = new SessionMemo[String](TempDirs.deleteDir)

  def ensureFiles(spark: SparkSession, dir: String): String =
    memo(spark, dir)(
      TempDirs.fill("graft-bti-fixture")(writeAll(spark, dir, _)))

  private def writeAll(spark: SparkSession, dir: String, out: Path): Unit = {
    val rows = Fixtures.liPscan(spark, dir)
      .select(col("sstable_id"), col("key"), col("size"))
      .orderBy("sstable_id", "key")
      .collect()
    var current: String = null
    var entries = Vector.empty[(Array[Byte], Long)]
    var position = 0L
    def flush(): Unit = if (current != null) {
      Files.write(out.resolve(current + BtiTrieFormat.Suffix),
        BtiTrieFormat.write(entries.iterator))
      entries = Vector.empty
    }
    rows.foreach { r =>
      val sst = r.getString(0)
      if (sst != current) {
        flush()
        current = sst
        position = 0L
      }
      entries :+= ((java.nio.ByteBuffer.allocate(8)
        .putLong(r.getLong(1)).array(), position))
      position += r.getLong(2)
    }
    flush()
  }
}
