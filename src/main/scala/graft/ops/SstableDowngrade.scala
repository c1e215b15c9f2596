package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
import graft.sources.statsdb.CassandraStatsFormat

/** `sstabledowngrade`, executed end to end (round 16) — the inverse of
  * [[SstableUpgrade]] (Cassandra 5 ships the real tool for downgrading
  * 'oa' tables so a node can roll back to 4.x): every `oa-<gen>-big`
  * component is carried to `nb-<gen>-big`, and `Statistics.db` is
  * re-encoded in the 'nb' layout — the covered-clustering slice's
  * bound blobs become the legacy min/max clustering lists again and
  * the version-gated tail (first/last key, token coverage, partition-
  * level-deletion flag) is DROPPED, because the older version has no
  * wire slot for it.
  *
  * The sharpest possible contract holds and q210 pins it: downgrading
  * the upgraded set reproduces the ORIGINAL 'nb' files — Data.db and
  * every other component byte-identical by construction, and the
  * re-encoded Statistics.db byte-identical to the original because the
  * upgrade carried the bound blobs intact and the 'nb' serializer is
  * deterministic. A lossy upgrade (mangled blobs, drifted stats
  * fields) would break the roundtrip at the first byte.
  *
  * Scale shape: O(#files) driver metadata re-encodes + copies; no
  * scan, no shuffle. */
object SstableDowngrade {

  private val M = 1000003L

  private val memo = new SessionMemo[String]

  /** Downgrade the upgraded 'oa' set back to 'nb' under a
    * session-memoized temp dir; returns the downgraded dir. */
  def ensureDowngraded(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|downgrade")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): String = {
    val inPath = SstableUpgrade.ensureUpgraded(spark, dir)
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-sstable-downgrade"))
    val d = new java.io.File(inPath)
    val bases = Option(d.listFiles((_, n) => n.endsWith("-Data.db")))
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName.stripSuffix("-Data.db")).sorted.toSeq
    require(bases.nonEmpty, s"no sstables under $inPath")
    bases.foreach { base =>
      val gen = base.split("-")(1).toLong
      val newBase = s"nb-$gen-big"
      Option(d.listFiles((_, n) => n.startsWith(base + "-")))
        .getOrElse(Array.empty[java.io.File]).foreach { f =>
          val suffix = f.getName.stripPrefix(base)
          if (suffix == CassandraStatsFormat.Suffix) {
            val bytes = java.nio.file.Files.readAllBytes(f.toPath)
            val parsed = CassandraStatsFormat.parse(bytes, version = "oa")
            val header = CassandraStatsFormat.componentBytes(bytes,
              CassandraStatsFormat.TypeHeader)
            val slice = parsed.stats.coveredClustering.getOrElse(
              sys.error(s"$base: 'oa' stats without a covered slice"))
            def blobs(b: CassandraStatsFormat.ClusteringBound) =
              b.values.map(_.getOrElse(
                sys.error(s"$base: NULL bound value cannot downgrade")))
            val downgraded = parsed.copy(stats = parsed.stats.copy(
              // the slice's bound blobs become the legacy lists again
              minClustering = blobs(slice.start),
              maxClustering = blobs(slice.end),
              coveredClustering = None,
              // 'nb' has no wire slot for the versioned tail
              tail = None))
            val o = new java.io.DataOutputStream(
              new java.io.BufferedOutputStream(new java.io.FileOutputStream(
                out.resolve(newBase + suffix).toFile)))
            try CassandraStatsFormat.write(o, downgraded, Some(header),
              version = "nb")
            finally o.close()
          } else {
            java.nio.file.Files.copy(f.toPath,
              out.resolve(newBase + suffix))
            ()
          }
        }
    }
    out.toString
  }

  /** q210: the downgrade relation — one row per sstable: component-set
    * parity against the ORIGINAL 'nb' set, Data.db byte identity, the
    * full-cycle Statistics.db ROUNDTRIP identity (nb → oa → nb is the
    * original file bit-for-bit), and the downgraded set's production
    * scan (events, partitions, commutative digest). */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val origPath = CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true)
    val outPath = ensureDowngraded(spark, dir)
    val origDir = new java.io.File(origPath)
    val outDir = new java.io.File(outPath)
    def componentsOf(dd: java.io.File, base: String): Set[String] =
      Option(dd.listFiles((_, n) => n.startsWith(base + "-")))
        .getOrElse(Array.empty[java.io.File])
        .map(_.getName.stripPrefix(base)).toSet
    val fileRows = Option(
        origDir.listFiles((_, n) => n.endsWith("-Data.db")))
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName.stripSuffix("-Data.db")).sorted.toSeq
      .map { base =>
        val gen = base.split("-")(1).toLong
        val componentsMatch =
          componentsOf(origDir, base) == componentsOf(outDir, base)
        def identical(suffix: String): Boolean =
          java.nio.file.Files.mismatch(
            new java.io.File(origDir, base + suffix).toPath,
            new java.io.File(outDir, base + suffix).toPath) == -1L
        (gen, componentsMatch, identical("-Data.db"),
          identical(CassandraStatsFormat.Suffix))
      }
    import spark.implicits._
    val meta = fileRows.toDF("gen", "components_match",
      "data_bytes_equal", "stats_roundtrip_exact")
    DataDb.cells(spark, outPath, format = DataDbScan.FormatCassandra)
      .withColumn("gen",
        regexp_extract(col("sstable_id"), "-(\\d+)-big", 1).cast("long"))
      .groupBy("gen")
      .agg(
        count(lit(1)).as("events"),
        countDistinct("key").as("partitions"),
        sum(graft.functions.PortableHash.h60(concat_ws(":",
          col("key"), col("clustering"), col("column_name"), col("kind"),
          col("timestamp_us"), col("ttl_s"),
          col("local_deletion_time_s"), col("size_bytes"))) % M)
          .as("digest"))
      .join(broadcast(meta), Seq("gen"))
      .withColumn("unit",
        concat(lit("sst-"), (col("gen") - 1L).cast("string")))
      .drop("gen")
      .select("unit", "components_match", "data_bytes_equal",
        "stats_roundtrip_exact", "events", "partitions", "digest")
      .orderBy("unit")
  }
}
