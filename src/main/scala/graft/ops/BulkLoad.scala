package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** sstableloader, executed end to end (round 16) — the bulk-load tool
  * that streams an EXISTING sstable set into a live ring: every event
  * routes to the token ranges' replica nodes, each node receives one
  * real streamed sstable, and the received views verify against the
  * corpus range-by-range. The reference family ships this binary
  * (Cassandra tools/bin/sstableloader); the reference repo itself only
  * reads sstables in place — loading is this repo's extension on the
  * same format layer.
  *
  *  - **Ring model.** [[Nodes]] nodes own equal primary quarters of
  *    the 2^60 token ring (node n primary for quarter n); replication
  *    factor [[Rf]] walks the ring clockwise (SimpleStrategy), so node
  *    n holds quarters {n, n-1 mod N}.
  *  - **Plan.** Per source sstable, the quarters its [min_tok,
  *    max_tok] span intersects — O(#files × #ranges) driver metadata,
  *    the stream sessions a real loader opens. The q206 fixture's
  *    spans genuinely vary (full-ring flushes, single-quarter dense
  *    files, an eighth-wide pair), so fan-in differs per range.
  *  - **Execute.** One pass: events join the broadcast quarter→node
  *    replica table (each event fans out [[Rf]] ways — replication IS
  *    duplication) and the sink writes ONE real sstable per node
  *    (sstable_id = the node's stream id). No dedup anywhere: the
  *    loader is multiset-preserving, like the real tool streaming
  *    every source range.
  *  - **Verify.** Each node's received file re-scans (sstable_id
  *    pushdown prunes to that one file) and its per-quarter event
  *    count + commutative digest must equal the corpus's — and each
  *    quarter must be held by exactly [[Rf]] nodes.
  *
  * Scale shape: the plan is sidecar-class metadata; the data path is
  * one scan + one fan-out exchange the sink's clustered distribution
  * plans; digests are narrow commutative aggregates (O(#ranges) rows).
  * At a real deployment's vnode counts the same relation holds — the
  * quarter table stays a broadcast of O(#ranges × RF) rows; this is
  * now EXERCISED, not asserted: [[VnodeRing]] runs the same executed
  * load on a 4-node × 4-vnode ring (q236). */
object BulkLoad {

  /** Ring nodes (equal primary quarters). */
  val Nodes = 4

  /** Replication factor (clockwise successor replicas). */
  val Rf = 2

  /** Token quarter = token div 2^58. */
  val QuarterShift = 58

  /** Node stream generations: node n receives sst-([[OutGenBase]]+n). */
  val OutGenBase = 1500L

  private val M = 1000003L

  /** Replica nodes of quarter q: the primary and its clockwise
    * successors (SimpleStrategy at RF=[[Rf]]). */
  def replicasOf(q: Int): Seq[Int] =
    (0 until Rf).map(r => (q + r) % Nodes)

  /** The raw scan id of node n's received file — for PUSHABLE
    * sstable_id prefilters (the DSv2 prunes whole files at planning;
    * a filter on the regexp-derived node column cannot). */
  def nodeFileId(n: Long): String = s"nb-${OutGenBase + n + 1}-big"

  private def inputEvents(spark: SparkSession, inPath: String): DataFrame =
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))

  private val memo = new SessionMemo[String]

  /** Stream the q206 set into the ring: one real received sstable per
    * node under the returned dir (session-memoized). */
  def ensureLoaded(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|load")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): String = {
    val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-load")).toString
    import spark.implicits._
    val replicaTable = (0 until Nodes)
      .flatMap(q => replicasOf(q).map(n => (q.toLong, n.toLong)))
      .toDF("quarter", "node")
    val ev = inputEvents(spark, inPath)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), QuarterShift))
    // replication IS duplication: each event fans out to its quarter's
    // Rf replicas in ONE exchange; the sink clusters by the node stream
    ev.join(broadcast(replicaTable), Seq("quarter"))
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

  /** q207: one row per (node, owned quarter): the plan's source fan-in
    * (sstables whose span intersects the quarter), the RECEIVED
    * events + digest off the node's real streamed file, the corpus's
    * events + digest for that quarter, the verification flag, and the
    * quarter's cluster-wide holder count (= RF everywhere). */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
    val outPath = ensureLoaded(spark, dir)
    import spark.implicits._
    // plan fan-in from per-sstable span metadata (one narrow aggregate)
    val spans = inputEvents(spark, inPath)
      .groupBy("sstable_id")
      .agg(min(AntiEntropy.token(col("key"))).as("mn"),
        max(AntiEntropy.token(col("key"))).as("mx"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val fanIn = (0 until Nodes).map { q =>
      q.toLong -> spans.count { case (mn, mx) =>
        (mn >> QuarterShift) <= q && q <= (mx >> QuarterShift)
      }.toLong
    }.toDF("quarter", "src_sstables")
    val corpus = inputEvents(spark, inPath)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), QuarterShift))
      .groupBy("quarter")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
    val received = DataDb.cells(spark, outPath,
        format = DataDbScan.FormatCassandra)
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - OutGenBase)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), QuarterShift))
      .groupBy("node", "quarter")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    // holders over the AGGREGATED received rows via a window (round 19,
    // guide §2.4): the separate groupBy branch re-executed the whole
    // received-file scan + aggregate subtree
    val withHolders = received.withColumn("holders",
      size(collect_set(col("node")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("quarter")))
        .cast("long"))
    withHolders
      .join(corpus, Seq("quarter"))
      .join(broadcast(fanIn), Seq("quarter"))
      .select(col("node"), col("quarter"), col("src_sstables"),
        col("events"), col("digest"), col("corpus_events"),
        col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        col("holders"))
      .orderBy("node", "quarter")
  }
}
