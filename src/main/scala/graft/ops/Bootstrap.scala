package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{DataDb, DataDbScan}

/** Node BOOTSTRAP, executed end to end (round 16) — the other half of
  * the ring-doubling topology change ([[Cleanup]] is the shrink side):
  * each NEW node, landing at an odd eighth boundary, STREAMS the token
  * ranges it now replicates from the pre-change owners, and the
  * post-change cluster — cleaned old nodes + bootstrapped new ones —
  * converges back to a full RF=2 ring.
  *
  *  - **Ranges.** The new node at position p (odd) becomes primary for
  *    eighth p and replica for eighth p−1 — both inside its
  *    predecessor's old primary quarter, so its single stream source
  *    is that predecessor (old node (p−1)/2), exactly Cassandra's
  *    pick-one-replica-per-range bootstrap plan.
  *  - **Execute.** One pass over the loaded pre-change files: rows of
  *    the new nodes' eighths route to them via a broadcast plan table
  *    and the sink writes ONE real bootstrapped sstable per new node.
  *  - **Converge.** The q213 relation reads BOTH real sets — the
  *    cleaned old views and the bootstrapped new ones — and proves the
  *    ring: every eighth held by exactly RF=2 of the 8 nodes (one old,
  *    one new), every view digest-identical to the corpus for its
  *    eighth.
  *
  * Scale shape: the plan is O(#nodes) driver arithmetic; each side is
  * one scan + one clustered sink exchange; digests are narrow
  * commutative aggregates. */
object Bootstrap {

  /** New-node positions on the doubled ring (odd eighth boundaries). */
  val NewPositions: Seq[Int] = Seq(1, 3, 5, 7)

  /** Bootstrapped output generations: the node at position p receives
    * sst-([[OutGenBase]]+p). */
  val OutGenBase = 1700L

  private val M = 1000003L

  /** Eighths the new node at position p replicates. */
  def bootstrapEighths(p: Int): Set[Long] =
    Set(p.toLong, ((p + 7) % 8).toLong)

  /** The one old node the new node at p streams from (its ring
    * predecessor — the pre-change primary of both its eighths). */
  def sourceOf(p: Int): Int = (p - 1) / 2

  private val memo = new SessionMemo[String]

  /** Stream each new node's eighths from the pre-change files; one
    * real bootstrapped sstable per new node (session-memoized). */
  def ensureBootstrapped(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|boot")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): String = {
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-bootstrap")).toString
    import spark.implicits._
    // (source old node, eighth) -> receiving new position: the stream
    // plan a real bootstrap derives from the ring change
    val planTable = NewPositions
      .flatMap(p => bootstrapEighths(p).map(e =>
        (sourceOf(p).toLong, e, p.toLong)))
      .toDF("node", "eighth", "position")
    DataDb.cells(spark, BulkLoad.ensureLoaded(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - BulkLoad.OutGenBase)
      .withColumn("eighth",
        shiftright(AntiEntropy.token(col("key")), Cleanup.EighthShift))
      .join(broadcast(planTable), Seq("node", "eighth"))
      .select(
        concat(lit("sst-"), (lit(OutGenBase) + col("position"))
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

  /** Per-(position, eighth) view digest of one real node-file set.
    * `toPosition` maps the decoded generation code to a ring position
    * as a Column expression (old nodes sit at even positions 2n, new
    * nodes at their own odd position). */
  private def viewDigest(spark: SparkSession, path: String,
      genBase: Long,
      toPosition: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column): DataFrame =
    DataDb.cells(spark, path, format = DataDbScan.FormatCassandra)
      .withColumn("position",
        toPosition(regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - genBase))
      .withColumn("eighth",
        shiftright(AntiEntropy.token(col("key")), Cleanup.EighthShift))
      .groupBy("position", "eighth")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))

  /** q213: the CONVERGED doubled ring — one row per (position, held
    * eighth) across all 8 nodes: origin (cleaned old / bootstrapped
    * new), the new node's stream source (−1 for old nodes), the view's
    * events + digest off the real bytes, corpus equality, and the
    * cluster-wide holder count (= RF = 2 everywhere). */
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
    val oldViews = viewDigest(spark,
        Cleanup.ensureCleaned(spark, dir), Cleanup.OutGenBase,
        c => c * 2L)
      .withColumn("origin", lit("old-cleaned"))
      .withColumn("source", lit(-1L))
    val newViews = viewDigest(spark,
        ensureBootstrapped(spark, dir), OutGenBase, c => c)
      .withColumn("origin", lit("new-bootstrapped"))
      .withColumn("source", expr("(position - 1) div 2"))
    val all = oldViews.unionByName(newViews)
    // holders over the AGGREGATED view rows via a window (round 19,
    // guide §2.4): the separate groupBy branch re-executed the whole
    // union+scan subtree
    val withHolders = all.withColumn("holders",
      size(collect_set(col("position")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("eighth")))
        .cast("long"))
    withHolders
      .join(corpus, Seq("eighth"))
      .select(col("position"), col("eighth"), col("origin"),
        col("source"), col("events"), col("digest"),
        col("corpus_events"), col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        col("holders"))
      .orderBy("position", "eighth")
  }
}
