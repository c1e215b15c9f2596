package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** The topology family at VNODE granularity (round 17, VERDICT r16 ask
  * #1) — every prior ring fixture ran one token per node, so the
  * pending-ranges calculus was only exercised where a departure's blast
  * radius is its ring neighbors. Real deployments run `num_tokens`
  * 8–256: each node owns many scattered tokens, ranges interleave, and
  * a node's departure touches ranges all over the ring with SEVERAL
  * distinct survivors gaining. This family runs the same executed
  * load/decommission machinery on a 4-node × 4-vnode ring.
  *
  *  - **Ring model.** [[Slots]] = 16 tokens at equal sixteenth
  *    boundaries of the 2^60 ring; [[Owners]] assigns each node 4
  *    interleaved slots. Token of slot s owns range s = the data
  *    hashing into sixteenth s. The assignment includes adjacent
  *    same-owner slots (7,8 and the 15→0 wrap), so replica selection
  *    MUST implement the real rule: RF=2 walks clockwise to the first
  *    token owned by a DISTINCT node, skipping same-owner tokens —
  *    naive "next token" would double-place those ranges.
  *  - **Load (q236).** The corpus streams into the vnode ring exactly
  *    like [[BulkLoad]]: one fan-out exchange against the broadcast
  *    (range → replica) table, one real received sstable per node.
  *    With vnodes a node's holdings are 8 ranges scattered across the
  *    ring, not 2 contiguous quarters.
  *  - **Pending ranges (q237).** Node [[Leaving]] departs: for every
  *    range, ownership re-derives on the survivor token set (a removed
  *    token's range merges into the next surviving token's), and the
  *    replica walk re-runs with the leaver's tokens gone. The oracle
  *    derives the SAME table relationally in DuckDB from just the
  *    (slot, owner) VALUES — two independent implementations of the
  *    walk, hash-compared.
  *  - **Decommission (q238).** Executed: the leaving node streams each
  *    range it replicated to that range's gainer (real sstables), and
  *    every survivor view — retained + streamed-in — verifies against
  *    the corpus range-by-range at RF=2 holders. Gains land on ALL
  *    THREE survivors across non-contiguous ranges (asserted in spec) —
  *    the vnode property the single-token fixtures could not show.
  *
  * Scale shape: identical to the single-token family — ownership is
  * O(#tokens²) driver arithmetic broadcast into one exchange; streams
  * are sstable_id-pruned single-file scans through the sink; digests
  * are narrow commutative aggregates. num_tokens only grows the
  * broadcast table (O(#tokens × RF) rows — 256 vnodes × 1000 nodes ×
  * RF=3 is still sub-megabyte). */
object VnodeRing {

  private val memo = new SessionMemo[String]

  /** Ring nodes. */
  val Nodes = 4

  /** Tokens per node (num_tokens). */
  val VnodesPerNode = 4

  /** Total tokens = equal sixteenths of the 2^60 ring. */
  val Slots: Int = Nodes * VnodesPerNode

  /** Range of a token value = token div 2^56. */
  val SlotShift = 56

  /** slot → owning node; each node [[VnodesPerNode]] times,
    * interleaved. Slots 7,8 share owner 1 and the 15→0 wrap shares
    * owner 0 — the adjacent-same-owner cases the distinct-node walk
    * must skip. */
  val Owners: Vector[Int] =
    Vector(0, 2, 1, 3, 2, 0, 3, 1, 1, 3, 0, 2, 3, 1, 2, 0)

  /** Replication factor (distinct-node clockwise walk). */
  val Rf = 2

  /** The departing node for q237/q238. */
  val Leaving = 3

  /** Received generations: node n's vnode-load file is
    * sst-([[LoadGenBase]]+n). */
  val LoadGenBase = 3000L

  /** Decommission-stream generations: the stream to node n writes
    * sst-([[DecomGenBase]]+n). */
  val DecomGenBase = 3100L

  private val M = 1000003L

  // ------------------------------------------------------------------
  // the ring walk (driver arithmetic, O(#tokens) per range)

  /** The production replica walk on an ARBITRARY token assignment
    * (round 18, VERDICT r17 ask #3 — one rule, every ring in the
    * family): the rf-replica set of range h, primary first. Ownership
    * is the first occupied slot at or clockwise-after h (a removed
    * token's range merges into its successor's); replicas accumulate
    * clockwise from there, skipping tokens whose node is already
    * chosen — Cassandra's SimpleStrategy distinct-node rule, the one
    * adjacent same-owner tokens break under a naive "next token" walk.
    * `tokens(slot)` = Some(owner) when a token tops `slot`.
    * [[graft.RingWalkSpec]] property-checks this walk against an
    * independent sort-based derivation over seeded random rings at
    * realistic vnode density. */
  def replicaWalk(slots: Int, tokens: Int => Option[Int], h: Int,
      rf: Int): Seq[Int] = {
    val ps = (0 until slots).iterator.map(o => (h + o) % slots)
      .find(sl => tokens(sl).isDefined)
      .getOrElse(throw new IllegalArgumentException("empty ring"))
    val picked = scala.collection.mutable.ArrayBuffer(tokens(ps).get)
    var o = 1
    while (picked.size < rf && o < slots) {
      tokens((ps + o) % slots).foreach { n =>
        if (!picked.contains(n)) picked += n
      }
      o += 1
    }
    picked.toSeq
  }

  /** Replica set of range s on the full ring (primary first). */
  def oldReplicas(s: Int): Seq[Int] =
    replicaWalk(Slots, sl => Some(Owners(sl)), s, Rf)

  /** Replica set of range s on the survivor ring (primary first):
    * [[replicaWalk]] with [[Leaving]]'s tokens gone. */
  def survReplicas(s: Int): Seq[Int] =
    replicaWalk(Slots,
      sl => if (Owners(sl) == Leaving) None else Some(Owners(sl)), s, Rf)

  /** The node that must RECEIVE range s when [[Leaving]] departs, or
    * None when the departure doesn't touch s's replicas. The survivor
    * walk passes the full ring's distinct owners in the same order
    * minus the leaver, so new ⊇ old∖{leaver} and at most one node
    * gains — gains happen exactly where the leaver was a replica. */
  def gainerOf(s: Int): Option[Int] = {
    val old = oldReplicas(s).toSet
    survReplicas(s).find(n => !old.contains(n))
  }

  /** The raw scan id of node n's vnode-load file (PUSHABLE prefilter). */
  def loadFileId(n: Long): String = s"nb-${LoadGenBase + n + 1}-big"

  private def inputEvents(spark: SparkSession, inPath: String): DataFrame =
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra)

  private def eventHash = graft.functions.PortableHash.h60(concat_ws(":",
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("size_bytes"))) % M

  private def withRange(df: DataFrame): DataFrame =
    df.withColumn("token_range",
      shiftright(AntiEntropy.token(col("key")), SlotShift))

  private val OutCols = Seq("key", "clustering", "column_name", "kind",
    "timestamp_us", "ttl_s", "local_deletion_time_s",
    "is_tombstone", "is_expiring", "size_bytes")

  /** Stream the corpus into the vnode ring: one real received sstable
    * per node under the returned dir (session-memoized). */
  def ensureLoaded(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|vnodeload") {
      val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-vnodeload")).toString
      import spark.implicits._
      val replicaTable = (0 until Slots)
        .flatMap(s => oldReplicas(s).map(n => (s.toLong, n.toLong)))
        .toDF("token_range", "node")
      withRange(inputEvents(spark, inPath))
        .join(broadcast(replicaTable), Seq("token_range"))
        .select((concat(lit("sst-"), (lit(LoadGenBase) + col("node"))
          .cast("string")).as("sstable_id") +: OutCols.map(col)): _*)
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }

  /** Stream the leaving node's replicated ranges to their gainers; one
    * real sstable per gainer under the returned dir (session-memoized).
    * Source is the leaver's OWN file — decommission is the cooperative
    * departure; the id filter prunes the scan to that single file. */
  def ensureDecommissioned(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|vnodedecom") {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-vnodedecom")).toString
      import spark.implicits._
      val handoff = (0 until Slots)
        .flatMap(s => gainerOf(s).map(g => (s.toLong, g.toLong)))
        .toDF("token_range", "target")
      withRange(
        DataDb.cells(spark, ensureLoaded(spark, dir),
            format = DataDbScan.FormatCassandra)
          .where(col("sstable_id") === loadFileId(Leaving.toLong)))
        .join(broadcast(handoff), Seq("token_range"))
        .select((concat(lit("sst-"), (lit(DecomGenBase) + col("target"))
          .cast("string")).as("sstable_id") +: OutCols.map(col)): _*)
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }

  /** q236: the loaded vnode ring — one row per (node, held range):
    * primary flag, events + digest off the node's real received file,
    * corpus equality, and the range's holder count (= RF everywhere).
    * The oracle derives the replica table relationally from the
    * (slot, owner) VALUES — the distinct-node walk in SQL. */
  def loadRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
    val outPath = ensureLoaded(spark, dir)
    import spark.implicits._
    val corpus = withRange(inputEvents(spark, inPath))
      .groupBy("token_range")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
    val primaries = (0 until Slots)
      .map(s => (s.toLong, Owners(s).toLong)).toDF("token_range", "pnode")
    val received = withRange(
        DataDb.cells(spark, outPath, format = DataDbScan.FormatCassandra))
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - LoadGenBase)
      .groupBy("node", "token_range")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    // holders over the AGGREGATED received rows via a window (round 19,
    // guide §2.4): the separate groupBy branch re-executed the whole
    // received-file scan subtree
    val withHolders = received.withColumn("holders",
      size(collect_set(col("node")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("token_range")))
        .cast("long"))
    withHolders
      .join(broadcast(primaries), Seq("token_range"))
      .join(corpus, Seq("token_range"))
      .select(col("node"), col("token_range"),
        (col("node") === col("pnode")).as("is_primary"),
        col("events"), col("digest"), col("corpus_events"),
        col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        col("holders"))
      .orderBy("node", "token_range")
  }

  /** q237: the pending-ranges calculus, one row per range — full-ring
    * replicas, survivor-ring replicas, and the gainer (-1 = departure
    * doesn't touch this range). Engine side is the Scala walk; the
    * oracle re-derives every column in SQL from the token VALUES. */
  def pendingReport(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until Slots).map { s =>
      val old = oldReplicas(s)
      val nw = survReplicas(s)
      (s.toLong, old.head.toLong, old(1).toLong,
        nw.head.toLong, nw(1).toLong,
        gainerOf(s).map(_.toLong).getOrElse(-1L))
    }.toDF("token_range", "old_primary", "old_second",
        "new_primary", "new_second", "gainer")
      .orderBy("token_range")
  }

  /** q238: the SHRUNK vnode ring — one row per (survivor, range,
    * origin): events + digest off the node's real files (retained
    * vnode-load receives + decommission streams), corpus equality, and
    * RF=2 holders on every range. */
  def decommissionRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
    import spark.implicits._
    val corpus = withRange(inputEvents(spark, inPath))
      .groupBy("token_range")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
    val retained = DataDb.cells(spark, ensureLoaded(spark, dir),
        format = DataDbScan.FormatCassandra)
      .where(col("sstable_id").isin((0L until Nodes.toLong)
        .filterNot(_ == Leaving.toLong).map(loadFileId): _*))
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - LoadGenBase)
      .withColumn("origin", lit("retained"))
    val streamed = DataDb.cells(spark, ensureDecommissioned(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("node",
        regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L - DecomGenBase)
      .withColumn("origin", lit("streamed-in"))
    val views = withRange(retained.unionByName(streamed))
      .groupBy("node", "token_range", "origin")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    // holders over the AGGREGATED view rows via a window (round 19,
    // guide §2.4): the separate groupBy branch re-executed the whole
    // union+scan subtree
    val withHolders = views.withColumn("holders",
      size(collect_set(col("node")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("token_range")))
        .cast("long"))
    withHolders
      .join(corpus, Seq("token_range"))
      .select(col("node"), col("token_range"), col("origin"),
        col("events"), col("digest"), col("corpus_events"),
        col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        col("holders"))
      .orderBy("node", "token_range", "origin")
  }
}
