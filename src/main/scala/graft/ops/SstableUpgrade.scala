package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
import graft.sources.statsdb.CassandraStatsFormat

/** `sstableupgrade`, executed end to end (round 16, VERDICT r15 ask
  * #7) — the Cassandra operator tool that rewrites a table's sstables
  * from an older big-format version to the current one. Both stats
  * codec generations already exist as readers ('nb' q62, 'oa'
  * q77/q100); this is the VERSION REWRITE between them:
  *
  *  - every component of `nb-<gen>-big` is carried to `oa-<gen>-big`
  *    (the scan derives sstable ids and sidecar names from the
  *    filename base, so the renamed set reads through the production
  *    path unchanged);
  *  - `Statistics.db` is re-encoded in the 'oa' layout: the legacy
  *    min/max clustering blob lists become the covered-clustering
  *    slice (inclusive start/end bounds carrying the same blobs —
  *    CASSANDRA-14261's improved min/max, derived from the old
  *    field exactly the way the real upgrade derives it), and the
  *    version-gated tail is filled from the sstable's own data:
  *    first/last key from its Summary.db, token-space coverage from
  *    one narrow per-sstable token aggregate (the real tool re-reads
  *    every sstable anyway — that is what an upgrade IS);
  *  - `Data.db` (and every other component) is byte-untouched: the
  *    engine's row codec is version-stable, so upgrade cost is one
  *    metadata re-encode + hardlink-class copies per file.
  *
  * The q200 relation proves the contract: per sstable, the component
  * set matches, Data.db is byte-identical, the production scan of the
  * upgraded set returns event-identical content (count + commutative
  * digest, both equal to the pre-upgrade scan's), and the new 'oa'
  * fields carry exactly the derivable values (keys, timestamps,
  * clustering bounds, coverage).
  *
  * Scale shape: O(#files) driver sidecar work + one narrow pruned
  * aggregate for the token spans; no shuffle, no data rewrite. */
object SstableUpgrade {

  private val M = 1000003L

  // light-row-work scans (count/countDistinct/h60 rollups): fixed split
  // cap, not the adaptive target — see DataDbScan.LightRowWorkSplit
  private def inputEvents(spark: SparkSession, inPath: String): DataFrame =
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra,
      maxSplitBytes = DataDbScan.LightRowWorkSplit)

  /** Per-sstable (minToken, maxToken) off one narrow aggregate —
    * O(#files) driver rows. */
  private def tokenSpans(spark: SparkSession, inPath: String)
      : Map[String, (Long, Long)] =
    inputEvents(spark, inPath)
      .groupBy("sstable_id")
      .agg(min(AntiEntropy.token(col("key"))).as("t0"),
        max(AntiEntropy.token(col("key"))).as("t1"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  /** Coverage the upgraded tail records: the sstable's token span as a
    * fraction of the 2^60 ring. */
  def coverageOf(minToken: Long, maxToken: Long): Double =
    (maxToken - minToken + 1L).toDouble / (1L << 60).toDouble

  private val memo = new SessionMemo[String]

  /** Upgrade the compressed base set to 'oa' under a session-memoized
    * temp dir; returns the upgraded dir. */
  def ensureUpgraded(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|upgrade")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): String = {
    val inPath = CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true)
    val spans = tokenSpans(spark, inPath)
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-sstable-upgrade"))
    val d = new java.io.File(inPath)
    val bases = Option(d.listFiles((_, n) => n.endsWith("-Data.db")))
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName.stripSuffix("-Data.db")).sorted.toSeq
    require(bases.nonEmpty, s"no sstables under $inPath")
    bases.foreach { base =>
      val gen = base.split("-")(1).toLong
      val newBase = s"oa-$gen-big"
      Option(d.listFiles((_, n) => n.startsWith(base + "-")))
        .getOrElse(Array.empty[java.io.File]).foreach { f =>
          val suffix = f.getName.stripPrefix(base)
          if (suffix == CassandraStatsFormat.Suffix) {
            val bytes = java.nio.file.Files.readAllBytes(f.toPath)
            val parsed = CassandraStatsFormat.parse(bytes, version = "nb")
            val header = CassandraStatsFormat.componentBytes(bytes,
              CassandraStatsFormat.TypeHeader)
            val summaryIn = new java.io.DataInputStream(
              new java.io.BufferedInputStream(new java.io.FileInputStream(
                new java.io.File(d, base +
                  graft.sources.summarydb.SummaryDbFormat.Suffix))))
            val summary =
              try graft.sources.summarydb.SummaryDbFormat.parse(summaryIn)
              finally summaryIn.close()
            val (t0, t1) = spans(base)
            val upgraded = parsed.copy(stats = parsed.stats.copy(
              // legacy min/max blob lists -> the covered slice, blobs
              // intact (inclusive bounds; 'oa' writes the slice IN
              // PLACE of the legacy lists)
              coveredClustering = Some(CassandraStatsFormat.CoveredSlice(
                CassandraStatsFormat.ClusteringBound(
                  CassandraStatsFormat.KindInclStartBound,
                  parsed.stats.minClustering.map(b => Some(b))),
                CassandraStatsFormat.ClusteringBound(
                  CassandraStatsFormat.KindInclEndBound,
                  parsed.stats.maxClustering.map(b => Some(b))))),
              tail = Some(CassandraStatsFormat.VersionedTail(
                originatingHostId = None,
                hasPartitionLevelDeletions = false,
                firstKey = summary.firstKey,
                lastKey = summary.lastKey,
                tokenSpaceCoverage = coverageOf(t0, t1)))))
            val o = new java.io.DataOutputStream(
              new java.io.BufferedOutputStream(new java.io.FileOutputStream(
                out.resolve(newBase + suffix).toFile)))
            try CassandraStatsFormat.write(o, upgraded, Some(header),
              version = "oa")
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

  private def digested(spark: SparkSession, path: String): DataFrame =
    inputEvents(spark, path)
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
          .as("digest"),
        // the token span rides the digest pass (round 20, guide §1.2):
        // the q200 window used to run tokenSpans as a SECOND full
        // scan+collect job per call just to re-check coverage; min/max
        // distribute over the same per-gen grouping
        min(AntiEntropy.token(col("key"))).as("t0"),
        max(AntiEntropy.token(col("key"))).as("t1"))

  /** q200: the upgrade relation — one row per sstable: component-set
    * parity, Data.db byte identity, the pre- and post-upgrade
    * production scans' (events, partitions, digest), and the upgraded
    * 'oa' metadata read back (keys, timestamps, clustering bounds out
    * of the covered slice, coverage consistency). */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true)
    val outPath = ensureUpgraded(spark, dir)
    val inDir = new java.io.File(inPath)
    val outDir = new java.io.File(outPath)
    def componentsOf(dd: java.io.File, base: String): Set[String] =
      Option(dd.listFiles((_, n) => n.startsWith(base + "-")))
        .getOrElse(Array.empty[java.io.File])
        .map(_.getName.stripPrefix(base)).toSet
    val fileRows = Option(inDir.listFiles((_, n) => n.endsWith("-Data.db")))
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName.stripSuffix("-Data.db")).sorted.toSeq
      .map { base =>
        val gen = base.split("-")(1).toLong
        val newBase = s"oa-$gen-big"
        val componentsMatch =
          componentsOf(inDir, base) == componentsOf(outDir, newBase)
        val dataEqual = java.nio.file.Files.mismatch(
          new java.io.File(inDir, base + "-Data.db").toPath,
          new java.io.File(outDir, newBase + "-Data.db").toPath) == -1L
        val bytes = java.nio.file.Files.readAllBytes(
          new java.io.File(outDir,
            newBase + CassandraStatsFormat.Suffix).toPath)
        val s = CassandraStatsFormat.parse(bytes, version = "oa").stats
        def be(b: Array[Byte]): Long = java.nio.ByteBuffer.wrap(b).getLong
        val tail = s.tail.getOrElse(
          sys.error(s"$newBase missing the oa tail"))
        val slice = s.coveredClustering.getOrElse(
          sys.error(s"$newBase missing the covered slice"))
        val minCl = be(slice.start.values.head.getOrElse(
          sys.error("NULL start bound")))
        val maxCl = be(slice.end.values.head.getOrElse(
          sys.error("NULL end bound")))
        (gen, componentsMatch, dataEqual, be(tail.firstKey),
          be(tail.lastKey), s.minTimestampUs, s.maxTimestampUs,
          minCl, maxCl, tail.tokenSpaceCoverage)
      }
    import spark.implicits._
    val meta = fileRows.toDF("gen", "components_match", "data_bytes_equal",
      "first_key", "last_key", "min_ts_us", "max_ts_us",
      "min_clustering", "max_clustering", "stored_coverage")
    def named(df: DataFrame, tag: String): DataFrame =
      df.select(col("gen"), col("events").as(s"events_$tag"),
        col("partitions").as(s"partitions_$tag"),
        col("digest").as(s"digest_$tag"))
    // coverage_consistent: the stored 'oa' tail double vs the span
    // re-derived from the pre-upgrade scan — the re-check is unchanged,
    // it just reads the span off the SAME digest pass instead of a
    // separate tokenSpans job (the expression replays coverageOf
    // bit-for-bit: long arithmetic, one cast, one IEEE division)
    val nb = digested(spark, inPath).select(col("gen"),
      col("events").as("events_nb"), col("partitions").as("partitions_nb"),
      col("digest").as("digest_nb"), col("t0"), col("t1"))
    nb
      .join(named(digested(spark, outPath), "oa"), Seq("gen"))
      .join(broadcast(meta), Seq("gen"))
      .withColumn("coverage_consistent",
        col("stored_coverage") ===
          (col("t1") - col("t0") + lit(1L)).cast("double") /
            lit((1L << 60).toDouble))
      .withColumn("unit",
        concat(lit("sst-"), (col("gen") - 1L).cast("string")))
      .drop("gen", "t0", "t1", "stored_coverage")
      .orderBy("unit")
  }
}
