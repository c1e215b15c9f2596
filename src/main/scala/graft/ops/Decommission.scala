package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{DataDb, DataDbScan}

/** `nodetool decommission`, executed end to end (round 16) — the ring
  * SHRINK, completing the topology family ([[BulkLoad]] populates,
  * [[Bootstrap]]/[[Cleanup]] grow): node 3 leaves the q207 ring, and —
  * exactly like real decommission's "unbootstrap" — the LEAVING node
  * streams each range it holds to the range's NEW replica before
  * departing:
  *
  *  - with node 3 gone, node 2's primary range extends over quarters
  *    {2, 3}; the RF=2 successor rule then makes quarter 2's replicas
  *    {2, 0} and quarter 3's {2, 0} — so node 2 must RECEIVE quarter 3
  *    and node 0 must RECEIVE quarter 2 (node 1's holdings are
  *    untouched: the blast radius of a departure is its neighbors,
  *    never the whole ring);
  *  - both streams source from the leaving node's OWN real file (it
  *    held exactly quarters {3, 2}), one real streamed sstable per
  *    direction;
  *  - the survivors' views — original received files plus streamed
  *    additions — restore full RF=2 coverage on the 3-node ring.
  *
  * Scale shape: the plan is O(#ranges) driver arithmetic; each stream
  * is one filtered scan of the leaving node's file (sstable_id
  * pushdown prunes to that single file) through the sink; digests are
  * narrow commutative aggregates. */
object Decommission {

  /** The departing node. */
  val Leaving = 3

  /** Streamed generations: the stream to node n writes
    * sst-([[OutGenBase]]+n). */
  val OutGenBase = 1900L

  /** (quarter, receiving node): the ranges the leaving node must hand
    * off — each of its quarters to that range's one NEW replica. */
  val Handoff: Seq[(Long, Long)] = Seq((3L, 2L), (2L, 0L))

  /** Post-shrink holdings: node n -> quarters (RF=2 on the 3-node
    * ring, node 2's primary range covering quarters {2, 3}). */
  def holdingsAfter(n: Int): Set[Long] = n match {
    case 0 => Set(0L, 2L, 3L)
    case 1 => Set(0L, 1L)
    case 2 => Set(1L, 2L, 3L)
    case _ => Set.empty
  }

  private val M = 1000003L

  private val memo = new SessionMemo[String]

  /** Stream the leaving node's ranges to their new replicas; one real
    * sstable per direction under the returned dir (session-memoized). */
  def ensureStreamed(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|decom")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): String = {
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-decom")).toString
    import spark.implicits._
    val handoff = Handoff.toDF("quarter", "target")
    // the leaving node's OWN file is the stream source: the id filter
    // prunes the scan to that single file
    DataDb.cells(spark, BulkLoad.ensureLoaded(spark, dir),
        format = DataDbScan.FormatCassandra)
      .where(col("sstable_id") ===
        s"nb-${BulkLoad.OutGenBase + Leaving + 1}-big")
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      .join(broadcast(handoff), Seq("quarter"))
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

  /** q217: the SHRUNK ring — one row per (surviving node, held
    * quarter): origin (retained / streamed-in), events + digest off
    * the node's real files, corpus equality, and the quarter's holder
    * count (= RF = 2 on the 3-node ring; the leaving node's files no
    * longer count). */
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
      // pushable prefilter: the leaving node's file pruned at planning
      .where(col("sstable_id").isin((0L until BulkLoad.Nodes.toLong)
        .filterNot(_ == Leaving.toLong).map(BulkLoad.nodeFileId): _*))
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - BulkLoad.OutGenBase)
      .withColumn("origin", lit("retained"))
    val streamed = DataDb.cells(spark, ensureStreamed(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
      .withColumn("origin", lit("streamed-in"))
    val views = retained.unionByName(streamed)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      .groupBy("node", "quarter", "origin")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    // holders over the AGGREGATED view rows via a window (round 19,
    // guide §2.4): a separate groupBy branch re-executed the whole
    // union+scan subtree — the window reads the O(#nodes × #ranges)
    // aggregate once and replaces a join with an in-partition count
    val withHolders = views.withColumn("holders",
      size(collect_set(col("node")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("quarter")))
        .cast("long"))
    withHolders
      .join(corpus, Seq("quarter"))
      .select(col("node"), col("quarter"), col("origin"), col("events"),
        col("digest"), col("corpus_events"), col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        col("holders"))
      .orderBy("node", "quarter")
  }
}
