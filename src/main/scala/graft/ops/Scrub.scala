package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbFormat,
  DataDbScan}

/** `sstablescrub`, executed end to end (round 16) — the Cassandra
  * operator tool that salvages a corrupted sstable: rather than failing
  * the whole file (the scan path's fail-closed behavior, correct for
  * queries), scrub re-reads it PARTITION BY PARTITION off the Index.db
  * boundaries, drops every partition that does not decode cleanly, and
  * writes the survivors as a fresh sstable:
  *
  *  - **Detection** is the real tool's: the per-file Digest.crc32 no
  *    longer matches the Data.db bytes (reported per file), and the
  *    per-partition salvage cross-checks each decoded partition's key
  *    against its own index entry (Cassandra's scrubber re-syncs
  *    through the index the same way);
  *  - **Isolation** is the index's byte ranges: partition i occupies
  *    [entry(i).position, entry(i+1).position) of the uncompressed
  *    stream, so one partition's garbage cannot poison its neighbors'
  *    decode — a corrupt partition either throws (the codecs are
  *    fail-closed) or fails the key cross-check, and is SKIPPED;
  *  - **Salvage** is a real write: survivors stream through the
  *    production sink into one fresh sstable per input generation,
  *    re-read through the production scan for the q201 relation.
  *
  * The fixture corrupts exactly one partition (the smallest key ≡ 0
  * mod [[VictimKeyMod]] of generation [[VictimGen]], its whole byte
  * range overwritten with 0xFF), so the DuckDB oracle derives the
  * victim and replays every surviving number from parquet.
  *
  * Scale shape: the decode fans out one task per partition-range batch
  * (the same split grain the production scan plans); a production
  * scrub would stream each task's survivors straight into its rewrite
  * with per-task skip counters — here the decoded events persist once
  * (MEMORY_AND_DISK) so the sink write and the skip table share one
  * decode pass at fixture scale. */
object Scrub {

  /** Corrupted generation (file nb-3-big = sst-2). */
  val VictimGen = 3L

  /** Victim partition: the generation's smallest key ≡ 0 mod this. */
  val VictimKeyMod = 97L

  private val M = 1000003L

  private final case class Part(base: String, gen: Long, key: Long,
      pos: Long, end: Long)

  /** Partition boundaries of one sstable from its Index.db — key order,
    * each with its [pos, end) byte range of the uncompressed stream. */
  private def indexParts(dir: String, base: String): Seq[Part] = {
    val dataLen = java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, base + "-Data.db"))
    val in = new java.io.BufferedInputStream(new java.io.FileInputStream(
      new java.io.File(dir, base + graft.sources.indexdb.IndexDbFormat
        .Suffix)))
    try {
      val es = graft.sources.indexdb.IndexDbFormat.entries(in).toVector
      val gen = base.split("-")(1).toLong
      es.zipWithIndex.map { case (e, i) =>
        val end = if (i + 1 < es.length) es(i + 1).position else dataLen
        Part(base, gen, java.nio.ByteBuffer.wrap(e.key).getLong,
          e.position, end)
      }
    } finally in.close()
  }

  private def bases(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles((_, n) =>
        n.endsWith("-Data.db")))
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName.stripSuffix("-Data.db")).sorted.toSeq

  private val memo = new SessionMemo[(String, Long)]

  /** Copy the UNCOMPRESSED base set and overwrite the victim
    * partition's byte range with 0xFF; returns (corrupted dir, victim
    * key). Session-memoized. */
  def ensureCorrupted(spark: SparkSession, dir: String): (String, Long) =
    memo(spark, s"$dir|corrupt") {
      val inPath = CassandraDataFixture.ensureFiles(spark, dir,
        compressed = false)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-scrub-corrupt"))
      Option(new java.io.File(inPath).listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
        .foreach { f =>
          java.nio.file.Files.copy(f.toPath, out.resolve(f.getName))
          ()
        }
      val base = s"nb-$VictimGen-big"
      val parts = indexParts(out.toString, base)
      val victim = parts.map(_.key).filter(_ % VictimKeyMod == 0L).min
      val p = parts.find(_.key == victim).get
      val raf = new java.io.RandomAccessFile(
        out.resolve(base + "-Data.db").toFile, "rw")
      try {
        raf.seek(p.pos)
        val garbage = Array.fill((p.end - p.pos).toInt)(0xFF.toByte)
        raf.write(garbage)
      } finally raf.close()
      (out.toString, victim)
    }

  private val scrubMemo = new SessionMemo[(String, Seq[(Long, Long)])]

  /** Run the salvage: per-partition isolated decode off the corrupted
    * set, survivors written through the production sink; returns
    * (salvage dir, skipped (gen, key) pairs). Session-memoized. */
  def ensureScrubbed(spark: SparkSession, dir: String)
      : (String, Seq[(Long, Long)]) =
    scrubMemo(spark, s"$dir|scrub")(build(spark, dir))

  private def build(spark: SparkSession, dir: String)
      : (String, Seq[(Long, Long)]) = {
    val (corrupted, _) = ensureCorrupted(spark, dir)
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-scrub-salvage"))
      .toString
    import spark.implicits._
    // distributed index parse: each task lists its own sstable's
    // partition ranges — the driver never holds a partition list
    val parts = spark.createDataset(bases(corrupted))
      .flatMap(b => indexParts(corrupted, b)
        .map(p => (p.base, p.gen, p.key, p.pos, p.end)))
      .repartition(spark.sparkContext.defaultParallelism)
    val decoded = parts.mapPartitions { it =>
      it.flatMap { case (base, gen, key, pos, end) =>
        val file = s"$corrupted/$base-Data.db"
        val sid = s"sst-${gen - 1}"
        def skip = Seq((sid, key, 0L, "", "", 0L, 0L, 0L,
          false, false, 0L, false))
        try {
          val (evs, closer) = DataDb.partitionEvents(file, pos, end)
          try {
            val rows = evs.toVector
            // the scrubber's cross-check: every decoded event must
            // belong to the partition the index says lives here
            if (rows.isEmpty || rows.exists(e =>
                java.nio.ByteBuffer.wrap(e.key).getLong != key)) skip
            else rows.map(e => (sid, key, e.clustering,
              new String(e.columnNameBytes,
                java.nio.charset.StandardCharsets.UTF_8),
              DataDbFormat.KindStrings(e.kindCode),
              e.timestampUs, e.ttlS, e.localDeletionTimeS,
              e.isTombstone, e.isExpiring, e.sizeBytes, true))
          } finally closer.close()
        } catch { case scala.util.control.NonFatal(_) => skip }
      }
    }.toDF("sstable_id", "key", "clustering", "column_name", "kind",
      "timestamp_us", "ttl_s", "local_deletion_time_s",
      "is_tombstone", "is_expiring", "size_bytes", "ok")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      decoded.where(col("ok")).drop("ok")
        .write.format("sstable-data")
        .option("path", out).option("compressed", "false")
        .mode("append").save()
      val skipped = decoded.where(!col("ok"))
        .select(
          (regexp_extract(col("sstable_id"), "sst-(\\d+)", 1)
            .cast("long") + 1L).as("gen"), col("key"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      (out, skipped)
    } finally {
      decoded.unpersist()
      ()
    }
  }

  /** q201: the scrub relation — one row per sstable: the Digest.crc32
    * verdict on the (possibly corrupted) input file, partition totals
    * and skip counts, the skipped key (-1 when clean), and the salvaged
    * output's production-scan counts + commutative digest. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val (corrupted, _) = ensureCorrupted(spark, dir)
    val (salvage, skipped) = ensureScrubbed(spark, dir)
    val skipByGen = skipped.groupBy(_._1)
    val meta = bases(corrupted).map { base =>
      val gen = base.split("-")(1).toLong
      val dataBytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(corrupted, base + "-Data.db"))
      val crc = new java.util.zip.CRC32()
      crc.update(dataBytes)
      val recorded = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(corrupted, base + "-Digest.crc32")),
        java.nio.charset.StandardCharsets.UTF_8).trim
      val skips = skipByGen.getOrElse(gen, Seq.empty)
      (gen, crc.getValue.toString == recorded,
        indexParts(corrupted, base).length.toLong,
        skips.length.toLong,
        skips.headOption.map(_._2).getOrElse(-1L))
    }
    import spark.implicits._
    val metaDf = meta.toDF("gen", "digest_ok", "partitions_total",
      "partitions_skipped", "skipped_key")
    val salvaged = DataDb.cells(spark, salvage,
        format = DataDbScan.FormatCassandra)
      .withColumn("gen",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1).cast("long"))
      .groupBy("gen")
      .agg(
        count(lit(1)).as("events"),
        countDistinct("key").as("partitions_salvaged"),
        sum(graft.functions.PortableHash.h60(concat_ws(":",
          col("key"), col("clustering"), col("column_name"), col("kind"),
          col("timestamp_us"), col("ttl_s"),
          col("local_deletion_time_s"), col("size_bytes"))) % M)
          .as("digest"))
    salvaged.join(broadcast(metaDf), Seq("gen"))
      .withColumn("unit",
        concat(lit("sst-"), (col("gen") - 1L).cast("string")))
      .drop("gen")
      .orderBy("unit")
  }
}
