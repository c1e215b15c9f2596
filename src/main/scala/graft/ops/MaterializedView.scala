package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** Materialized views, executed end to end (round 16) — Cassandra's
  * answer to "query by a non-key column" that scales: the view is a
  * REAL table re-keyed by the queried value (full rows, not just
  * pointers — what makes it a covered read), maintained by the write
  * path, and a value query is ONE view-partition point read instead
  * of a base scan.
  *
  *  - **View.** Every live base cell maps to a view row: partition
  *    key = the cell's value length (the fixture's scan-visible value
  *    attribute, domain 0..60), clustering = the base primary key
  *    packed reversibly (`key·6 + clustering·2 + column`), timestamp
  *    carried. Multiset semantics, like every sink path here (the
  *    oracle counts events the same way).
  *  - **Maintenance.** The view is first built from the base WITHOUT
  *    the update window (writes at/after [[UpdateFromUs]]); the
  *    window's writes then arrive and their view DELTAS append as
  *    their own real sstable — the write-path obligation a real MV
  *    carries.
  *  - **Query.** Each probed value reads via the DSv2 scan with the
  *    view key pushed down (`key IN (...)` → bloom + index point
  *    ranges — the spec pins the pushed filter), decodes the packed
  *    base key back out, and must reproduce the oracle's base-side
  *    filter: pre rows + delta rows, distinct base keys, digests.
  *
  * Scale shape: view build/maintenance are clustered sink exchanges;
  * a value query touches only its view partitions via pushdown (the
  * base is never scanned — the covered-read contract); digests are
  * narrow commutative aggregates over the probed partitions only. */
object MaterializedView {

  private val memo = new SessionMemo[String]

  /** The maintenance window: base writes at/after this timestamp
    * (fixture day 2300) arrive AFTER the initial view build. */
  val UpdateFromUs: Long = 2300L * 86400000000L

  /** Probed view partition keys (value lengths). */
  val QueryValues = Seq(7L, 17L, 42L)

  /** Initial-build shards (sst-(2800+v%4)) and the delta sstable. */
  val BuildGenBase = 2800L
  val BuildShards = 4L
  val DeltaGen = 2810L

  private val M = 1000003L


  /** Base live cells → view rows: key = value length, clustering =
    * packed base PK (reversible: key·6 + clustering·2 + column). */
  private def viewRows(base: DataFrame): DataFrame =
    base.where(col("kind") === "CELL" && !col("is_tombstone"))
      .select(
        col("size_bytes").as("vkey"),
        (col("key") * 6 + col("clustering") * 2 +
          when(col("column_name") === "c1", 1L).otherwise(0L))
          .as("vclustering"),
        col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
        col("is_expiring"), col("size_bytes"))

  private def sinkView(rows: DataFrame, sstableId:
      org.apache.spark.sql.Column, out: String): Unit =
    rows.select(
        sstableId.as("sstable_id"),
        col("vkey").as("key"), col("vclustering").as("clustering"),
        lit("c0").as("column_name"), lit("CELL").as("kind"),
        col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
        lit(false).as("is_tombstone"), col("is_expiring"),
        col("size_bytes"))
      .write.format("sstable-data")
      .option("path", out).option("compressed", "true")
      .mode("append").save()

  /** The view's real sstables: initial build (pre-window) sharded by
    * value, then the window's deltas as their own file
    * (session-memoized). */
  def ensureView(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|mview") {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-mview")).toString
      val inPath = CassandraDataFixture.ensureFiles(spark, dir,
        compressed = true)
      val base = DataDb.cells(spark, inPath,
        format = DataDbScan.FormatCassandra)
      val rows = viewRows(base)
      sinkView(rows.where(col("timestamp_us") < UpdateFromUs),
        concat(lit("sst-"),
          (lit(BuildGenBase) + pmod(col("vkey"), lit(BuildShards)))
            .cast("string")), out)
      sinkView(rows.where(col("timestamp_us") >= UpdateFromUs),
        lit(s"sst-$DeltaGen"), out)
      out
    }

  /** q230: one row per probed value — the covered read off the view's
    * real files with the key filter PUSHED (base never scanned):
    * pre/delta/total rows, distinct base keys and digests over the
    * unpacked base PKs, all recomputable from the base relation. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val viewPath = ensureView(spark, dir)
    val probeBytes = QueryValues.map(v =>
      java.nio.ByteBuffer.allocate(8).putLong(v).array())
    val scanned = DataDb.read(spark, viewPath,
        format = DataDbScan.FormatCassandra)
      .where(col("key").isin(probeBytes: _*))
      .select(
        graft.sources.BinaryKeys.beLong(col("key")).as("value"),
        col("clustering"), col("timestamp_us"),
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long").as("gen"))
    val decoded = scanned.select(
      col("value"),
      (col("clustering") / 6).cast("long").as("base_key"),
      (pmod(col("clustering"), lit(6L)) / 2).cast("long")
        .as("base_clustering"),
      pmod(col("clustering"), lit(2L)).as("base_col"),
      col("timestamp_us"),
      (col("gen") >= DeltaGen + 1L).as("is_delta"))
    decoded.groupBy("value")
      .agg(
        sum(when(!col("is_delta"), 1L).otherwise(0L)).as("pre_rows"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("delta_rows"),
        count(lit(1)).as("total_rows"),
        countDistinct("base_key").as("base_keys"),
        sum(col("base_key") % M).as("keys_sum"),
        sum(col("timestamp_us") % M).as("ts_sum"),
        sum(graft.functions.PortableHash.h60(concat_ws(":",
          col("base_key"), col("base_clustering"), col("base_col"),
          col("timestamp_us"))) % M).as("digest"))
      .orderBy("value")
  }
}
