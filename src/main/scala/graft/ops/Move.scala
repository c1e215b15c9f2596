package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{DataDb, DataDbScan}

/** `nodetool move`, executed end to end (round 16) — the token
  * reassignment tool, completing the topology family's verb set
  * ([[BulkLoad]] populates, [[Cleanup]]/[[Bootstrap]] grow,
  * [[Decommission]]/[[RemoveNode]] shrink; move RESHAPES without
  * changing the node count): node 1 moves its token one eighth
  * clockwise on the q207 ring, and the ring re-balances exactly the
  * way real move does — gained ranges STREAM in from an existing
  * replica, lost ranges are CLEANED away locally:
  *
  *  - primary spans (in ring eighths) go from 0:{0,1} 1:{2,3} 2:{4,5}
  *    3:{6,7} to 0:{0,1,2} 1:{3,4} 2:{5} 3:{6,7} — the mover's
  *    predecessor absorbs the vacated eighth, the mover bites one off
  *    its successor;
  *  - with RF=2 successor replication the holdings deltas are exactly
  *    four: node 0 GAINS eighth 2 (streamed from the lowest-indexed
  *    pre-move replica, node 1 — the mover itself), node 1 GAINS
  *    eighth 4 (streamed from node 2), node 2 LOSES eighth 2 and node
  *    3 LOSES eighth 4 (each rewrites its file without the foreign
  *    eighth — cleanup's local rewrite, no network);
  *  - the post-move views again cover every eighth exactly RF=2
  *    times, each digest-equal to the corpus.
  *
  * Scale shape: the pending-ranges plan is O(#nodes × #ranges) driver
  * arithmetic; each stream/clean is one filtered scan of a single
  * file (sstable_id pushdown) through the sink; digests are narrow
  * commutative aggregates. Real move is the same three primitives
  * (stream in, rewrite locally, drop) at vnode counts — and the vnode
  * pending-ranges calculus itself is exercised by [[VnodeRing]]
  * (q237/q238: 4 tokens per node, interleaved ranges, whole-ring
  * blast radius). */
object Move {

  private val memo = new SessionMemo[String]

  /** The moving node. */
  val Mover = 1

  /** Streamed generations: the stream to node n writes
    * sst-([[StreamGenBase]]+n). */
  val StreamGenBase = 2100L

  /** Cleaned generations: loser node n rewrites to
    * sst-([[CleanGenBase]]+n). */
  val CleanGenBase = 2150L

  /** (eighth, source, gainer): ranges that stream — each gained eighth
    * from its lowest-indexed pre-move replica (W24's minimal rule). */
  val Streams: Seq[(Long, Long, Long)] = Seq((2L, 1L, 0L), (4L, 2L, 1L))

  /** loser node -> the eighth it no longer replicates. */
  val Losses: Map[Long, Long] = Map(2L -> 2L, 3L -> 4L)

  /** Post-move holdings: node n -> eighths (RF=2 on the moved ring). */
  def holdingsAfter(n: Int): Set[Long] = n match {
    case 0 => Set(0L, 1L, 2L, 6L, 7L)
    case 1 => Set(0L, 1L, 2L, 3L, 4L)
    case 2 => Set(3L, 4L, 5L)
    case 3 => Set(5L, 6L, 7L)
    case _ => Set.empty
  }

  private val M = 1000003L

  /** Execute the move's data motion: the two gained-eighth streams and
    * the two losers' local rewrites, real sstables under the returned
    * dir (session-memoized via [[SessionMemo]]). */
  def ensureMoved(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|move")(build(spark, dir))

  private def loadedEvents(spark: SparkSession, dir: String): DataFrame =
    DataDb.cells(spark, BulkLoad.ensureLoaded(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - BulkLoad.OutGenBase)
      .withColumn("eighth",
        shiftright(AntiEntropy.token(col("key")), Cleanup.EighthShift))

  private def outCols(idCol: org.apache.spark.sql.Column) = Seq(
    idCol.as("sstable_id"),
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("is_tombstone"), col("is_expiring"), col("size_bytes"))

  private def build(spark: SparkSession, dir: String): String = {
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-move")).toString
    import spark.implicits._
    val ev = loadedEvents(spark, dir)
    // gained ranges stream from their designated source replica's file
    val streams = Streams.toDF("eighth", "node", "gainer")
    // pushable prefilter: only the designated source nodes' files open
    ev.where(col("sstable_id").isin(
        Streams.map(s => BulkLoad.nodeFileId(s._2)).distinct: _*))
      .join(broadcast(streams), Seq("eighth", "node"))
      .select(outCols(concat(lit("sst-"),
        (lit(StreamGenBase) + col("gainer")).cast("string"))): _*)
      .write.format("sstable-data")
      .option("path", out).option("compressed", "true")
      .mode("append").save()
    // losers rewrite locally without the eighth they gave up
    val losses = Losses.toSeq.toDF("node", "lost")
    ev.where(col("sstable_id").isin(
        Losses.keys.toSeq.map(BulkLoad.nodeFileId): _*))
      .join(broadcast(losses), Seq("node"))
      .where(col("eighth") =!= col("lost"))
      .select(outCols(concat(lit("sst-"),
        (lit(CleanGenBase) + col("node")).cast("string"))): _*)
      .write.format("sstable-data")
      .option("path", out).option("compressed", "true")
      .mode("append").save()
    out
  }

  private def eventHash = graft.functions.PortableHash.h60(concat_ws(":",
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("size_bytes"))) % M

  /** q219: the ring after the move — one row per (node, held eighth):
    * origin (retained — untouched original file / streamed-in — gained
    * range / cleaned — the loser's rewritten file), events + digest
    * off the real files, corpus equality, and the eighth's holder
    * count (= RF = 2 everywhere on the reshaped ring). */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = graft.sources.datadb.CassandraDataFixture
      .ensureUcsFiles(spark, dir)
    val corpus = DataDb.cells(spark, inPath,
        format = DataDbScan.FormatCassandra)
      .withColumn("eighth",
        shiftright(AntiEntropy.token(col("key")), Cleanup.EighthShift))
      .groupBy("eighth")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
    // untouched nodes keep their original loaded files (pushable
    // prefilter: the losers' files are never opened here)
    val keepNodes = (0L until BulkLoad.Nodes.toLong)
      .filterNot(Losses.keySet)
    val retained = loadedEvents(spark, dir)
      .where(col("sstable_id").isin(
        keepNodes.map(BulkLoad.nodeFileId): _*))
      .withColumn("origin", lit("retained"))
    val moved = DataDb.cells(spark, ensureMoved(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("gen",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L)
      .withColumn("node",
        when(col("gen") >= CleanGenBase, col("gen") - CleanGenBase)
          .otherwise(col("gen") - StreamGenBase))
      .withColumn("origin",
        when(col("gen") >= CleanGenBase, lit("cleaned"))
          .otherwise(lit("streamed-in")))
      .withColumn("eighth",
        shiftright(AntiEntropy.token(col("key")), Cleanup.EighthShift))
      .drop("gen")
    val views = retained
      .unionByName(moved.select(retained.columns.map(col).toSeq: _*))
      .groupBy("node", "eighth", "origin")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    // holders over the AGGREGATED view rows via a window (round 19,
    // guide §2.4): the separate groupBy branch re-executed the whole
    // union+scan subtree
    val withHolders = views.withColumn("holders",
      size(collect_set(col("node")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("eighth")))
        .cast("long"))
    withHolders
      .join(corpus, Seq("eighth"))
      .select(col("node"), col("eighth"), col("origin"), col("events"),
        col("digest"), col("corpus_events"), col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        col("holders"))
      .orderBy("node", "eighth")
  }
}
