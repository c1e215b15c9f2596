package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** `repair --execute` (round 14) — the ENTIRE anti-entropy cycle run to
  * convergence, the loop `nodetool repair` drives between two replicas:
  *
  *  1. **Diverge**: two real sstable sets that each MISS a sliver of the
  *     corpus (replica A lacks events with (key+clustering)%97 == 0,
  *     replica B those == 1 — disjoint gaps, so the union is the full
  *     corpus and each event lives on at least one replica).
  *  2. **Detect** (W12): token-leaf digests of both replicas, diffed —
  *     the differing leaves are the ranges to stream.
  *  3. **Stream**: for each direction, the OTHER replica's events in the
  *     differing leaves are written as ONE new real sstable beside the
  *     destination's files — full ranges, not a computed delta, exactly
  *     as Cassandra streams (the read path's merge dedups the overlap).
  *  4. **Converge + re-verify**: each replica's post-repair view (its
  *     own files ∪ the streamed-in sstable, duplicate events collapsed
  *     the way the read path collapses identical cells) re-digests
  *     leaf-identical to the full-corpus union on EVERY leaf.
  *
  * The q182 relation carries the whole story per leaf: both replicas'
  * pre-repair counts, which leaves differed, and the post-repair
  * convergence flags — all replayed from parquet by the oracle.
  *
  * Scale shape: digests are the W9/W12 narrow commutative aggregates;
  * the differing-leaf set is O(leaves) driver rows; each stream pass
  * scans the source once with the leaf filter bounding streamed volume
  * (real repair ships exactly those ranges node-to-node); convergence
  * re-reads are full scans — the same cost real repair pays to
  * re-verify. Nothing is all-pairs; every exchange is leaf- or
  * event-keyed. */
object RepairStream {

  /** Modulus of the divergence slivers. */
  val GapMod = 97L

  /** Generations of the streamed-in sstables: the A→B direction writes
    * generation 940 (B's new neighbour), B→A generation 941. */
  val StreamGenAtoB = 940L
  val StreamGenBtoA = 941L

  private val memo = new SessionMemo[(String, String, String, String)]

  /** Replica fixture: the base corpus minus the (key+clustering)%97
    * sliver `gap`, as real compressed sstables. */
  private def ensureReplica(spark: SparkSession, dir: String,
      gap: Long): String =
    CassandraDataFixture.ensureReplicaFiles(spark, dir, gap)

  private def scanOf(spark: SparkSession, p: String): DataFrame =
    DataDb.cells(spark, p, format = DataDbScan.FormatCassandra)

  /** Second half of q182's 128-bit event id over the identity columns
    * (the first is their plain xxhash64); the salt LEADS, see
    * [[roundtrip]] for why. */
  private[graft] val EidSalt = 0x9e3779b97f4a7c15L

  private[graft] def eventId1(cols: Seq[org.apache.spark.sql.Column]) =
    xxhash64(lit(EidSalt) +: cols: _*)

  private def leafOf(c: org.apache.spark.sql.Column) =
    shiftright(AntiEntropy.token(c), AntiEntropy.TokenLeafShift)

  /** Materialize replicas + both streamed sstables; returns
    * (pathA, pathB, streamedIntoA, streamedIntoB), session-memoized. */
  def ensureStreamed(spark: SparkSession, dir: String)
      : (String, String, String, String) =
    memo(spark, s"$dir|repairx")(build(spark, dir))

  /** The differing token leaves between two real replica sets —
    * O(leaves) driver rows off two narrow digest aggregates. */
  def differingLeaves(spark: SparkSession, pathA: String,
      pathB: String): Seq[Long] = {
    val a = AntiEntropy.cachedTokenLeafDigest(spark, pathA)
      .select(col("leaf"), col("digest").as("da"))
    val b = AntiEntropy.cachedTokenLeafDigest(spark, pathB)
      .select(col("leaf"), col("digest").as("db"))
    a.join(b, Seq("leaf"), "full_outer")
      .where(coalesce(col("da"), lit(-1L)) =!=
        coalesce(col("db"), lit(-2L)))
      .select("leaf").collect().map(_.getLong(0)).toSeq.sorted
  }

  private def build(spark: SparkSession, dir: String)
      : (String, String, String, String) = {
    val pathA = ensureReplica(spark, dir, 0L)
    val pathB = ensureReplica(spark, dir, 1L)
    val diff = differingLeaves(spark, pathA, pathB)
    require(diff.nonEmpty, s"replicas already converged under $dir")
    def stream(from: String, gen: Long): String = {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-repair-stream"))
        .toString
      scanOf(spark, from)
        .where(leafOf(col("key")).isin(diff: _*))
        .select(
          lit(s"sst-${gen - 1}").as("sstable_id"),
          col("key"), col("clustering"), col("column_name"), col("kind"),
          col("timestamp_us"), col("ttl_s"),
          col("local_deletion_time_s"),
          col("is_tombstone"), col("is_expiring"), col("size_bytes"))
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }
    // full differing ranges ship in both directions (Cassandra streams
    // ranges, not deltas — the destination's merge dedups the overlap)
    (pathA, pathB, stream(pathB, StreamGenBtoA), stream(pathA, StreamGenAtoB))
  }

  /** Replica A's converged on-disk set: its own files plus the
    * streamed-in sstable, assembled (the state a node holds when the
    * repair session ends), session-memoized via [[markedA]]. */
  private val cycleMemo = new SessionMemo[(String, String)]

  /** (converged-but-unmarked A, the same set with every Statistics.db
    * stamped repairedAt) — the repair session's closing act. */
  def ensureCycle(spark: SparkSession, dir: String): (String, String) =
    cycleMemo(spark, s"$dir|repaircyc") {
      val (pathA, _, intoA, _) = ensureStreamed(spark, dir)
      val conv = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-repair-conv"))
      def copyAll(from: String): Unit =
        Option(new java.io.File(from).listFiles())
          .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
          .foreach { f =>
            java.nio.file.Files.copy(f.toPath, conv.resolve(f.getName))
            ()
          }
      copyAll(pathA); copyAll(intoA)
      (conv.toString, Repair.markDir(conv.toString))
    }

  /** q184: the repair session's CLOSING act — once the ranges verify
    * (q182), the node stamps repairedAt into every participating
    * sstable (the streamed-in one included), and the NEXT incremental
    * digest (q177's planning-time skip) has nothing left to read: one
    * row per state (converged-but-unmarked vs marked), with the
    * incremental digest's event/leaf/digest triple collapsing to zero —
    * detect, stream, converge, mark, and never re-verify what's
    * already repaired. */
  def markCycle(spark: SparkSession, dir: String): DataFrame = {
    val (conv, marked) = ensureCycle(spark, dir)
    // split = None (adaptive): this window is ONE corpus-sized scan (the
    // marked set prunes to zero files at planning), so the splits are
    // the only parallelism — see incrementalTriple's doc
    AntiEntropy.incrementalTriple(spark, conv, "converged", split = None)
      .unionByName(AntiEntropy.incrementalTriple(spark, marked, "marked",
        split = None))
      .orderBy("state")
  }

  /** q182: the full executed repair, one row per token leaf — both
    * replicas' pre-repair counts, the differing flag, and the
    * post-repair convergence of each replica against the union.
    *
    * FUSED (round 19, guide §1.2/§2.3/§2.4): the five leaf-digest
    * relations this used to assemble (A, B, and three `distinct`-then-
    * digest views over A∪intoA / B∪intoB / A∪B) cost eight full
    * real-codec scans and three full-width distinct exchanges per cold
    * window. All five derive from ONE event-grain aggregate: every
    * input is scanned exactly once with a source tag, one exchange
    * collapses identical events while counting per-source occurrences
    * (the distinct), and the per-leaf digests fall out as conditional
    * sums — count and the commutative digest both distribute over the
    * union, and a digest over a `distinct` view is the sum of each
    * distinct event's term. intoA ⊆ B's events and intoB ⊆ A's (each
    * streamed file is a selection of the other replica, roundtripped
    * through the fuzz-proven codec), so the leaf row set is identical;
    * the conditional `when(... > 0, …)` wrappers reproduce the former
    * full-outer joins' NULLs exactly. 4 scans + 1 event exchange + 1
    * 64-row leaf exchange, same rows, same hash. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val (pathA, pathB, intoA, intoB) = ensureStreamed(spark, dir)
    val eventCols = Seq("key", "clustering", "column_name", "kind",
      "timestamp_us", "ttl_s", "local_deletion_time_s", "is_tombstone",
      "is_expiring", "size_bytes")
    // NARROW EXCHANGE (round 20, guide §2.3 "project before the
    // exchange"; VERDICT r19 Next #4): the fused aggregate used to
    // shuffle the full 10-column event tuple (~78 MB at sf0.1, two of
    // the columns strings) just to group identical events. Everything
    // the aggregate consumes downstream is (leaf, the h60 digest term,
    // per-source multiplicities) — so each input row is projected,
    // BEFORE the exchange, to 4 longs: the token leaf, a 128-bit event
    // id (two xxhash64 over all 10 identity columns) and the digest term
    // hh. The id's halves are independent only because the salt comes
    // FIRST in eid1: xxhash64 folds its inputs left to right from one
    // fixed seed, so a salt appended after the shared 10-column prefix
    // would make eid1 = xxhash64(salt) seeded with eid0, a function of
    // eid0 (one eid0 collision would collide both halves). Prepended,
    // the salt changes the seed the columns fold from, and the halves
    // are two differently-seeded 64-bit hashes. Grouping by (leaf,
    // eid0, eid1, hh) instead of the tuple partitions the event space
    // identically unless two DISTINCT events collide on both 64-bit
    // halves — P ≈ n²/2^129 from the id alone (≈1e-27 at 10^6 events,
    // ≈1e-15 at 10^12; hh's ~20 bits and the leaf only lower it), and
    // a collision would flip the oracle-checked hash, so the
    // equivalence is verified on every tested SF, not just argued.
    // The collision model covers random collisions only. xxhash64 and
    // concat_ws skip NULL inputs without advancing their state, so a
    // value moving across a NULL in an adjacent same-typed column (say
    // ttl_s vs local_deletion_time_s) would hash alike under any seed.
    // That class is ruled out by the columns, not the hash: none of the
    // ten is nullable in the scan schema (an absent TTL or deletion time
    // is a sentinel value), and events whose TTL/deletion shape differs
    // differ in `kind`, `is_tombstone` or `is_expiring`, all of which
    // are in the id. hh itself is UNCHANGED (the oracle's digest
    // algebra), and the per-leaf conditional sums below are
    // bit-identical functions of the same per-event quantities.
    def tag(p: String, src: String): DataFrame =
      scanOf(spark, p).select(
        leafOf(col("key")).as("leaf"),
        xxhash64(eventCols.map(col): _*).as("eid0"),
        eventId1(eventCols.map(col)).as("eid1"),
        (graft.functions.PortableHash.h60(concat_ws(":",
          col("key"), col("clustering"), col("column_name"), col("kind"),
          col("timestamp_us"), col("ttl_s"),
          col("local_deletion_time_s"), col("size_bytes"))) % 1000003L)
          .as("hh"),
        lit(src).as("src"))
    val events = tag(pathA, "a").unionByName(tag(pathB, "b"))
      .unionByName(tag(intoA, "ia")).unionByName(tag(intoB, "ib"))
      .groupBy(col("leaf"), col("eid0"), col("eid1"), col("hh"))
      .agg(
        sum(when(col("src") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("src") === "b", 1L).otherwise(0L)).as("cb"),
        max(when(col("src") === "ia", 1L).otherwise(0L)).as("ia"),
        max(when(col("src") === "ib", 1L).otherwise(0L)).as("ib"))
    val inU = col("ca") > 0 || col("cb") > 0
    val inA2 = col("ca") > 0 || col("ia") > 0
    val inB2 = col("cb") > 0 || col("ib") > 0
    events
      .groupBy(col("leaf"))
      .agg(
        sum(col("ca")).as("sa"),
        sum(col("ca") * col("hh")).as("da"),
        sum(col("cb")).as("sb"),
        sum(col("cb") * col("hh")).as("db"),
        sum(when(inU, 1L)).as("u_events"),
        sum(when(inU, col("hh"))).as("u_digest"),
        sum(when(inA2, col("hh"))).as("a2d"),
        sum(when(inB2, col("hh"))).as("b2d"))
      .select(col("leaf"),
        when(col("sa") > 0, col("sa")).as("a_events"),
        when(col("sb") > 0, col("sb")).as("b_events"),
        (coalesce(when(col("sa") > 0, col("da")), lit(-1L)) =!=
          coalesce(when(col("sb") > 0, col("db")), lit(-2L)))
          .as("differed"),
        col("u_events").as("converged_events"),
        (col("a2d") === col("u_digest")).as("a_converged"),
        (col("b2d") === col("u_digest")).as("b_converged"))
      .orderBy("leaf")
  }
}
