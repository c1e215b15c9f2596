package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{DataDb, DataDbScan}

/** `nodetool rebuild`, executed end to end (round 16) — the MULTI-DC
  * verb the topology family lacked: a brand-new datacenter joins with
  * NetworkTopologyStrategy and each of its nodes streams every range
  * it now owns from a SOURCE replica in the existing datacenter
  * (rebuild is bootstrap's cross-DC sibling: no local data exists, so
  * everything streams, and the source DC serves the reads meanwhile).
  *
  *  - **Topology.** DC1 is [[BulkLoad]]'s 4-node RF=2 ring. DC2 joins
  *    with two nodes at RF=1 — NTS places replicas PER DC, so DC2's
  *    ring is its own: node 0 owns quarters {0, 1}, node 1 owns
  *    {2, 3}.
  *  - **Sources.** Each quarter streams from its DC1 PRIMARY (node q
  *    for quarter q — real rebuild picks sources in the named source
  *    DC; the primary is the deterministic choice). One real streamed
  *    sstable per (target, source) session, scanned off the source
  *    node's file with sstable-id pushdown.
  *  - **Verify.** Every (DC2 node, owned quarter) view digest-equals
  *    the corpus; each quarter is held exactly once in DC2 (RF=1) —
  *    together with DC1's untouched RF=2, the keyspace is now
  *    RF={DC1:2, DC2:1}.
  *
  * Scale shape: the plan is O(#ranges × #DCs) driver arithmetic; each
  * stream is one filtered single-file scan through the sink; digests
  * are narrow commutative aggregates. */
object Rebuild {

  private val memo = new SessionMemo[String]

  /** DC2 nodes and their per-DC ownership (NTS RF=1: contiguous
    * halves). */
  val Dc2Owns: Seq[(Long, Long)] = Seq( // (dc2 node, quarter)
    (0L, 0L), (0L, 1L), (1L, 2L), (1L, 3L))

  /** Quarter q streams from DC1 node q (its primary). */
  def sourceOf(quarter: Long): Long = quarter

  /** Streamed generations: quarter q's session writes
    * sst-([[OutGenBase]]+q). */
  val OutGenBase = 2400L

  private val M = 1000003L

  /** Stream DC2's four rebuild sessions; one real sstable per session
    * under the returned dir (session-memoized via [[SessionMemo]]). */
  def ensureRebuilt(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|rebuild")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): String = {
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-rebuild")).toString
    import spark.implicits._
    // (quarter, dc1 source node): the four stream sessions
    val sessions = Dc2Owns.map { case (_, q) => (q, sourceOf(q)) }
      .toDF("quarter", "src")
    DataDb.cells(spark, BulkLoad.ensureLoaded(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("src",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - BulkLoad.OutGenBase)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      .join(broadcast(sessions), Seq("quarter", "src"))
      .select(
        concat(lit("sst-"), (lit(OutGenBase) + col("quarter"))
          .cast("string")).as("sstable_id"),
        col("key"), col("clustering"), col("column_name"), col("kind"),
        col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
        col("is_tombstone"), col("is_expiring"), col("size_bytes"))
      .write.format("sstable-data")
      .option("path", out).option("compressed", "true")
      .mode("append").save()
    out
  }

  private def eventHash = graft.functions.PortableHash.h60(concat_ws(":",
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("size_bytes"))) % M

  /** q226: one row per (DC2 node, owned quarter): the DC1 source the
    * session streamed from, events + digest off the node's real
    * received file, corpus equality, and the quarter's DC2 holder
    * count (= 1: NTS RF=1 in the new DC). */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = graft.sources.datadb.CassandraDataFixture
      .ensureUcsFiles(spark, dir)
    val corpus = DataDb.cells(spark, inPath,
        format = DataDbScan.FormatCassandra)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      .groupBy("quarter")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
    import spark.implicits._
    val owns = Dc2Owns.toDF("node", "quarter")
      .withColumn("src_node", col("quarter"))
    val received = DataDb.cells(spark, ensureRebuilt(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("quarter",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
      .groupBy("quarter")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    val viewed = received.join(broadcast(owns), Seq("quarter"))
    // holders over the AGGREGATED view rows via a window (round 19,
    // guide §2.4): the separate groupBy branch re-executed the whole
    // received-file scan subtree
    val withHolders = viewed.withColumn("dc2_holders",
      size(collect_set(col("node")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("quarter")))
        .cast("long"))
    withHolders
      .join(corpus, Seq("quarter"))
      .select(col("node"), col("quarter"), col("src_node"),
        col("events"), col("digest"), col("corpus_events"),
        col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        col("dc2_holders"))
      .orderBy("node", "quarter")
  }
}
