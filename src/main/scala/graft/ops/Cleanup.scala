package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{DataDb, DataDbScan}

/** `nodetool cleanup`, executed end to end (round 16) — the topology-
  * change tool: after new nodes join the ring, every pre-existing node
  * still holds data for token ranges it no longer replicates, and
  * cleanup REWRITES its sstables without those foreign ranges (the
  * disk-reclaim step every bootstrap runbook ends with).
  *
  * Topology: the q207 ring (4 nodes at the quarter boundaries, RF=2
  * clockwise) DOUBLES — a new node lands at every odd eighth boundary,
  * the classic capacity doubling. Ownership after the join, same
  * replication rule on the finer ring: the node at eighth e is primary
  * for e, replica for e−1. So old node n (sitting at eighth 2n):
  *
  *  - **keeps** eighths {2n, (2n+7) mod 8} — its primary eighth and
  *    the one it replicates for its new predecessor;
  *  - **drops** eighths {2n+1, (2n+6) mod 8} — now replicated by the
  *    new node beside it and by its old neighbor, not by it.
  *
  * Executed: one pass over the loaded node files (q207's real streamed
  * sstables), each row's token eighth joined against the broadcast
  * per-node kept set, survivors written back as one real cleaned
  * sstable per node. Post-cleanup invariant the q212 relation proves:
  * the old nodes' retained views PARTITION the ring — every eighth
  * held by exactly one old node (its second replica is a new node,
  * pending bootstrap), each retained view digest-identical to the
  * corpus for that eighth, and the dropped volume accounted per node.
  *
  * Scale shape: ownership is O(#nodes) driver arithmetic; the rewrite
  * is one scan + the sink's clustered exchange; digests are narrow
  * commutative aggregates. Real cleanup is per-node-local exactly like
  * this — no cross-node data moves at all. */
object Cleanup {

  /** Nodes after the doubling (one per ring eighth). */
  val NewRingNodes = 8

  /** Eighth = token div 2^57. */
  val EighthShift = 57

  /** Cleaned output generations: node n writes sst-([[OutGenBase]]+n). */
  val OutGenBase = 1600L

  private val M = 1000003L

  /** Eighths old node n (at position 2n) still replicates after the
    * doubling. */
  def keptEighths(n: Int): Set[Long] =
    Set((2L * n), ((2 * n + 7) % 8).toLong)

  /** Eighths old node n held before (RF=2 over quarters) but no longer
    * replicates. */
  def droppedEighths(n: Int): Set[Long] =
    Set(((2 * n + 1) % 8).toLong, ((2 * n + 6) % 8).toLong)

  private val memo = new SessionMemo[String]

  /** Rewrite every loaded node file without its foreign ranges; one
    * real cleaned sstable per node under the returned dir
    * (session-memoized). */
  def ensureCleaned(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|cleanup")(build(spark, dir))

  private def loadedEvents(spark: SparkSession, dir: String): DataFrame =
    DataDb.cells(spark, BulkLoad.ensureLoaded(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - BulkLoad.OutGenBase)
      .withColumn("eighth",
        shiftright(AntiEntropy.token(col("key")), EighthShift))

  private def build(spark: SparkSession, dir: String): String = {
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-cleanup")).toString
    import spark.implicits._
    val keptTable = (0 until BulkLoad.Nodes)
      .flatMap(n => keptEighths(n).map(e => (n.toLong, e)))
      .toDF("node", "eighth")
    loadedEvents(spark, dir)
      .join(broadcast(keptTable), Seq("node", "eighth"))
      .select(
        concat(lit("sst-"), (lit(OutGenBase) + col("node"))
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

  /** q212: one row per (node, retained eighth): the cleaned file's
    * events + digest, the corpus's for that eighth, the verification
    * flag, the node's dropped-event count (disk reclaimed), and the
    * eighth's old-node holder count (= 1: the retained views partition
    * the ring). */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = graft.sources.datadb.CassandraDataFixture
      .ensureUcsFiles(spark, dir)
    val outPath = ensureCleaned(spark, dir)
    val corpus = DataDb.cells(spark, inPath,
        format = DataDbScan.FormatCassandra)
      .withColumn("eighth",
        shiftright(AntiEntropy.token(col("key")), EighthShift))
      .groupBy("eighth")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
    val retained = DataDb.cells(spark, outPath,
        format = DataDbScan.FormatCassandra)
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
      .withColumn("eighth",
        shiftright(AntiEntropy.token(col("key")), EighthShift))
      .groupBy("node", "eighth")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    val loadedPerNode = loadedEvents(spark, dir)
      .groupBy("node").agg(count(lit(1)).as("loaded_events"))
    // per-node totals and per-eighth holders via windows over the
    // AGGREGATED retained rows (round 19, guide §2.4): each separate
    // groupBy branch re-executed the whole rewritten-file scan subtree
    val withExtras = retained
      .withColumn("retained_events",
        sum(col("events")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("node")))
      .withColumn("holders",
        size(collect_set(col("node")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("eighth")))
          .cast("long"))
    withExtras
      .join(corpus, Seq("eighth"))
      .join(loadedPerNode, Seq("node"))
      .select(col("node"), col("eighth"), col("events"), col("digest"),
        col("corpus_events"), col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        (col("loaded_events") - col("retained_events"))
          .as("node_dropped"),
        col("holders"))
      .orderBy("node", "eighth")
  }
}
