package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{CfStats, Compaction, PointGet, Purge}
import graft.sources.Fixtures
import graft.sources.compressioninfo.CompressionInfo
import graft.sources.datadb.{DataDb, DataDbScan}
import graft.sources.indexdb.IndexDb
import graft.sources.statsdb.StatsDb

/** Where an op records its layer spans: the tracer and the op span, or
  * nothing on an untraced run. */
final class Ctx(tracer: Option[Tracer], parent: Int, op: String) {
  def layer[A](name: String)(f: => A): A = tracer match {
    case Some(t) => t.span(name, parent, op)(f)
    case None => f
  }
}

/** What an op's output check found: a digest of the result (identical
  * across iterations for a fixed input) and the name of the first failed
  * check, if any. */
final case class Outcome(digest: String, failed: Option[String])

/** Reference values the output checks compare against, measured once per
  * run outside the timed window. */
final case class Expected(cellEvents: Long, indexEntries: Long,
    sstables: Int, mergeCount: Long, mergeChecksum: Long)

/** The timed ops. Each calls the engine's public layer functions directly
  * (no session-cached query), so every op pays the cold scan a command-line
  * invocation pays. */
object Ops {

  /** Split size of the real-format cfstats/purge lineage: eight splits over
    * the largest Data.db, at least 64 KiB. */
  def splitBytes(path: String): Long = {
    val largest = dataFiles(path).foldLeft(0L)((m, f) => math.max(m, f.length))
    math.max(64L << 10, largest / 8)
  }

  def dataFiles(path: String): Array[File] =
    Option(new File(path).listFiles((_, n) => n.endsWith("-Data.db")))
      .getOrElse(Array.empty[File]).sortBy(_.getName)

  def cells(spark: SparkSession, path: String, c: Ctx): DataFrame =
    c.layer("datadb.cells")(DataDb.cells(spark, path,
      maxSplitBytes = Some(splitBytes(path)),
      format = DataDbScan.FormatCassandra))

  private def digestOf(rows: Seq[Row]): String =
    java.lang.Long.toHexString(rows.map(_.toString).mkString("|").hashCode.toLong
      * 31 + rows.length)

  private def failIf(cond: Boolean, name: String): Option[String] =
    if (cond) Some(name) else None

  /** cfstats totals over the real-format set (the q71 lineage). */
  def cfstats(spark: SparkSession, path: String, c: Ctx,
      exp: Expected): Outcome = {
    val ev = cells(spark, path, c)
    val ps = c.layer("fixtures.partitionScan")(Fixtures.partitionScan(ev))
    val parts = c.layer("fixtures.partitions")(Fixtures.partitions(ps))
    val tot = c.layer("cfstats.totalsOf")(CfStats.totalsOf(parts))
    val rows = c.layer("collect")(tot.collect()).toSeq
    val cellCount = rows.headOption.map(_.getAs[Long]("cell_count")).getOrElse(-1L)
    Outcome(digestOf(rows),
      failIf(cellCount != exp.cellEvents, "cfstats.cells_equal_kernel_cell_events"))
  }

  /** purge top-10 by reclaimable bytes (the q83 lineage). */
  def purge(spark: SparkSession, path: String, c: Ctx): Outcome = {
    val ev = cells(spark, path, c)
    val pp = c.layer("purge.perPartition")(Purge.perPartition(ev))
    val top = pp.select("key", "key_formatted", "table_count", "size",
        "reclaimable")
      .orderBy(desc("reclaimable"), desc("size"), asc("key")).limit(10)
    val rows = c.layer("collect")(top.collect()).toSeq
    val rec = rows.map(_.getAs[Long]("reclaimable"))
    val size = rows.map(_.getAs[Long]("size"))
    val sorted = rec.zip(rec.drop(1)).forall { case (a, b) => a >= b }
    Outcome(digestOf(rows),
      failIf(rows.isEmpty, "purge.top10_nonempty")
        .orElse(failIf(!sorted, "purge.top10_sorted"))
        .orElse(failIf(rec.zip(size).exists { case (r, s) => r > s || r < 0 },
          "purge.reclaimable_within_size")))
  }

  private def sstId(c: org.apache.spark.sql.Column) =
    concat(lit("sst-"), (regexp_extract(c, "nb-(\\d+)-big", 1).cast("long") -
      1L).cast("string"))

  /** pstats from Index.db closed by CompressionInfo.db (the q82 lineage). */
  def pstats(spark: SparkSession, path: String, c: Ctx,
      exp: Expected): Outcome = {
    val idx = c.layer("indexdb.read")(IndexDb.read(spark, path))
      .withColumn("sstable_id", sstId(col("sstable_id")))
    val lens = c.layer("compressioninfo.read")(CompressionInfo.read(spark, path))
      .groupBy("generation").agg(min("data_length").as("data_length"))
      .select(concat(lit("sst-"), (col("generation") - 1L).cast("string"))
        .as("sstable_id"), col("data_length"))
    val sized = c.layer("indexdb.withSizes")(IndexDb.withSizes(idx, lens))
    val report = sized.groupBy("sstable_id")
      .agg(count(lit(1)).as("partition_count"),
        sum("size").as("sum_size"), min("size").as("min_size"))
      .join(broadcast(lens), "sstable_id")
      .select(col("sstable_id"), col("partition_count"),
        (col("sum_size") === col("data_length") && col("min_size") > 0L)
          .cast("long").as("tiled_ok"))
      .orderBy("sstable_id")
    val rows = c.layer("collect")(report.collect()).toSeq
    val parts = rows.map(_.getAs[Long]("partition_count")).sum
    Outcome(digestOf(rows),
      failIf(parts != exp.indexEntries, "pstats.partitions_equal_index_entries")
        .orElse(failIf(rows.exists(_.getAs[Long]("tiled_ok") != 1L),
          "pstats.tiled_ok"))
        .orElse(failIf(rows.length != exp.sstables, "pstats.row_per_sstable")))
  }

  /** sstables report: Statistics.db only. */
  def sstables(spark: SparkSession, path: String, c: Ctx,
      exp: Expected): Outcome = {
    val df = c.layer("statsdb.readCassandra")(
      StatsDb.readCassandra(spark, path, Fixtures.GcBeforeS))
    val rows = c.layer("collect")(df.orderBy("generation").collect()).toSeq
    Outcome(digestOf(rows),
      failIf(rows.length != exp.sstables, "sstables.row_per_data_db"))
  }

  /** The compaction input: every event, with generation ids mapped back to
    * the `sst-<n>` names the last-write-wins tiebreak orders by. */
  def compactionInput(spark: SparkSession, path: String, c: Ctx): DataFrame =
    cells(spark, path, c).withColumn("sstable_id", sstId(col("sstable_id")))

  def merged(spark: SparkSession, path: String, c: Ctx): DataFrame = {
    val ev = compactionInput(spark, path, c)
    c.layer("compaction.mergeWinners")(
      Compaction.mergeWinners(ev, Fixtures.GcBeforeS))
  }

  /** Major compaction: read, last-write-wins merge, LZ4 write into `out`. */
  def compact(spark: SparkSession, path: String, out: String, c: Ctx): Unit = {
    val shards = c.layer("compaction.outputShards")(
      Compaction.outputShards(Compaction.sidecarVolumeBytes(path)))
    val m = merged(spark, path, c)
    c.layer("datadb.write")(m.select(
        concat(lit("sst-"), pmod(col("key"), lit(shards))).as("sstable_id"),
        col("key"), col("clustering"), col("column_name"), col("kind"),
        col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
        col("is_tombstone"), col("is_expiring"), col("size_bytes"))
      .write.format("sstable-data")
      .option("path", out).option("compressed", "true")
      .mode("append").save())
  }

  /** Merge only: the compaction without its write, into a noop sink. */
  def mergeOnly(spark: SparkSession, path: String, c: Ctx): Unit = {
    val m = merged(spark, path, c)
    c.layer("noop.write")(m.write.format("noop").mode("overwrite").save())
  }

  /** Raw Data.db scan into a noop sink. */
  def rawScan(spark: SparkSession, path: String, c: Ctx): Unit = {
    val ev = cells(spark, path, c)
    c.layer("noop.write")(ev.write.format("noop").mode("overwrite").save())
  }

  /** Order-free checksum of an event multiset: a sum of 40-bit row hashes
    * (no overflow below 2^23 events). */
  val eventChecksum: org.apache.spark.sql.Column =
    sum(pmod(xxhash64(col("key"), col("clustering"), col("column_name"),
      col("kind"), col("timestamp_us"), col("ttl_s"),
      col("local_deletion_time_s"), col("is_tombstone"), col("is_expiring"),
      col("size_bytes")), lit(1L << 40)))

  def countAndChecksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), eventChecksum).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Read the compaction output back through the Data.db reader and compare
    * it with the merge-only result. */
  def checkCompacted(spark: SparkSession, out: String,
      exp: Expected): Outcome = {
    val (n, sum) = countAndChecksum(DataDb.cells(spark, out,
      format = DataDbScan.FormatCassandra))
    Outcome(s"$n:$sum",
      failIf(n != exp.mergeCount || sum != exp.mergeChecksum,
        "compact.readback_matches_merge"))
  }

  /** Point get of one key across every sstable; present keys must be found
    * in at least one sstable and absent keys in none. Returns the outcome
    * with the per-sstable outcome strings and events decoded. */
  def get(spark: SparkSession, dir: String, key: Long,
      present: Boolean): (Outcome, Seq[String], Long) = {
    val res = PointGet.getOne(spark, dir, key)
    val found = res.count(_._2 == "found")
    val ok = if (present) found >= 1 else found == 0
    (Outcome(found.toString,
      failIf(!ok, if (present) "get.present_found" else "get.absent_not_found")),
      res.map(_._2), res.map(_._3).sum)
  }

  def dirBytes(path: String): Long =
    Option(new File(path).listFiles()).getOrElse(Array.empty[File])
      .filter(_.isFile).map(_.length).sum

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
