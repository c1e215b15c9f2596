package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{DataDb, DataDbScan}

/** `nodetool removenode`, executed end to end (round 16) — the
  * DEAD-node counterpart of [[Decommission]]: node 3 is gone
  * (hardware loss), so it cannot stream anything. The surviving
  * coordinator recomputes ownership (the same post-shrink ring as
  * q217) and re-replicates each under-replicated range by streaming
  * from the range's SURVIVING replica — the defining difference from
  * decommission, where the leaving node itself is the source:
  *
  *  - quarter 2 lost replica 3; its survivor is node 2, which streams
  *    the quarter to the new holder node 0;
  *  - quarter 3 lost its primary 3; its survivor is node 0 (the old
  *    RF=2 successor), which streams it to the new holder node 2;
  *  - node 1 replicated nothing with node 3, so it neither sends nor
  *    receives — the blast radius is again the dead node's neighbors.
  *
  * Same convergence contract as q217 (every quarter back at RF=2,
  * every view digest-equal to the corpus), but the data flows
  * survivor→survivor: a mis-chosen source (e.g. reading the dead
  * node's file) would stream stale or missing ranges and break the
  * digests.
  *
  * Scale shape: the re-replication plan is O(#ranges) driver
  * arithmetic; each stream is one filtered scan of the source
  * survivor's file (sstable_id pushdown + quarter filter) through the
  * sink; digests are narrow commutative aggregates. */
object RemoveNode {

  private val memo = new SessionMemo[String]

  /** The dead node (cannot stream). */
  val Dead = 3

  /** Streamed generations: the stream to node n writes
    * sst-([[OutGenBase]]+n). */
  val OutGenBase = 2000L

  /** (quarter, surviving source, receiving node): each range the dead
    * node held streams from its one SURVIVING replica to its one NEW
    * replica. */
  val Handoff: Seq[(Long, Long, Long)] = Seq((2L, 2L, 0L), (3L, 0L, 2L))

  private val M = 1000003L

  /** Stream each under-replicated quarter from its surviving replica
    * to its new holder; one real sstable per direction under the
    * returned dir (session-memoized via [[SessionMemo]]). */
  def ensureStreamed(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|rmnode")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): String = {
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-rmnode")).toString
    import spark.implicits._
    val handoff = Handoff.toDF("quarter", "src", "target")
    // the SURVIVORS' files are the stream sources: each handoff row
    // matches (source file, quarter) — the dead node's file is never
    // opened, exactly like the real tool
    DataDb.cells(spark, BulkLoad.ensureLoaded(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("src",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - BulkLoad.OutGenBase)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      // pushable prefilter: only the surviving SOURCE replicas' files
      // open (and never the dead node's — now by planning, not just
      // by the join)
      .where(col("sstable_id").isin(
        Handoff.map(h => BulkLoad.nodeFileId(h._2)).distinct: _*))
      .join(broadcast(handoff), Seq("quarter", "src"))
      .select(
        concat(lit("sst-"), (lit(OutGenBase) + col("target"))
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

  /** q218: the ring after removenode — one row per (surviving node,
    * held quarter): origin (retained / streamed-in), the SOURCE node
    * the data came from (itself when retained; the surviving replica
    * when streamed — never the dead node), events + digest off the
    * real files, corpus equality, and the quarter's holder count
    * (= RF = 2 restored without the dead node's participation). */
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
    val retained = DataDb.cells(spark, BulkLoad.ensureLoaded(spark, dir),
        format = DataDbScan.FormatCassandra)
      // pushable prefilter: the dead node's file is pruned at planning
      .where(col("sstable_id").isin((0L until BulkLoad.Nodes.toLong)
        .filterNot(_ == Dead.toLong).map(BulkLoad.nodeFileId): _*))
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - BulkLoad.OutGenBase)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      .withColumn("origin", lit("retained"))
      .withColumn("src_node", col("node"))
    import spark.implicits._
    val srcOf = Handoff.map { case (q, s, _) => (q, s) }
      .toDF("quarter", "src_node")
    val streamed = DataDb.cells(spark, ensureStreamed(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      .withColumn("origin", lit("streamed-in"))
      .join(broadcast(srcOf), Seq("quarter"))
    val views = retained
      .unionByName(streamed.select(retained.columns.map(col).toSeq: _*))
      .groupBy("node", "quarter", "origin", "src_node")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    // holders over the AGGREGATED view rows via a window (round 19,
    // guide §2.4): the separate groupBy branch re-executed the whole
    // union+scan subtree
    val withHolders = views.withColumn("holders",
      size(collect_set(col("node")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("quarter")))
        .cast("long"))
    withHolders
      .join(corpus, Seq("quarter"))
      .select(col("node"), col("quarter"), col("origin"), col("src_node"),
        col("events"), col("digest"), col("corpus_events"),
        col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        col("holders"))
      .orderBy("node", "quarter")
  }
}
