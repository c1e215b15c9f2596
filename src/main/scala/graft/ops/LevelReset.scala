package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.statsdb.CassandraStatsFormat

/** `sstablelevelreset` (round 14) — the Cassandra recovery tool that
  * drops every sstable of a table back to LEVEL 0 so a corrupted or
  * abandoned leveled hierarchy can be rebuilt from scratch: a
  * METADATA-ONLY rewrite in the q174 mold (every non-Statistics file
  * copies byte-identical; Statistics.db re-serialized with ONLY `level`
  * changed, the serialization-header component carried verbatim so the
  * production data scan still decodes through it).
  *
  * q180 runs it against the LEVELED set (2×L0 + 4×L1 — the only
  * fixture with non-zero levels to reset) and proves the state
  * transition from the REAL files: per-level sstable counts through
  * the stats source flip from {0:2, 1:4} to {0:6} while the full
  * production scan's event count is unchanged. */
object LevelReset {

  private val memo = new SessionMemo[String]

  /** The leveled set copied with every Statistics.db level reset to 0;
    * returns the rewritten directory (session-memoized). */
  def ensureReset(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|lvlreset")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): String = {
    val inPath = graft.sources.datadb.CassandraDataFixture
      .ensureLeveledFiles(spark, dir)
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-levelreset"))
    val files = Option(new java.io.File(inPath).listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
    require(files.nonEmpty, s"no sstable files under $inPath")
    files.foreach { f =>
      val dest = out.resolve(f.getName)
      if (f.getName.endsWith(CassandraStatsFormat.Suffix)) {
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val parsed = CassandraStatsFormat.parse(bytes)
        val header = CassandraStatsFormat.componentBytes(bytes,
          CassandraStatsFormat.TypeHeader)
        val o = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(dest.toFile)))
        try CassandraStatsFormat.write(o,
          parsed.copy(stats = parsed.stats.copy(level = 0)), Some(header))
        finally o.close()
      } else {
        java.nio.file.Files.copy(f.toPath, dest)
        ()
      }
    }
    out.toString
  }

  /** q180: both sets through the stats source (per-level counts) and
    * the full production scan (event totals) — one row per set. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.sources.datadb.CassandraDataFixture
      .ensureLeveledFiles(spark, dir)
    val reset = ensureReset(spark, dir)
    def row(tag: String, path: String): DataFrame = {
      val stats = spark.read.format("sstable-stats")
        .option("format", "cassandra").load(path)
        .agg(count(lit(1)).as("sstables"),
          sum(when(col("level") === 0, 1L).otherwise(0L)).as("l0"),
          sum(when(col("level") === 1, 1L).otherwise(0L)).as("l1"),
          max("level").as("max_level"))
      val events = graft.sources.datadb.DataDb.cells(spark, path,
        format = graft.sources.datadb.DataDbScan.FormatCassandra)
        .agg(count(lit(1)).as("events"))
      stats.crossJoin(events).select(lit(tag).as("set_name"),
        col("sstables"), col("l0"), col("l1"), col("max_level"),
        col("events"))
    }
    row("base", base).unionByName(row("reset", reset))
      .orderBy("set_name")
  }
}
