package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** Blocking read repair, executed end to end (round 16) — the
  * PER-READ convergence mechanism, deliberately distinct from the
  * anti-entropy family (q173+): a quorum read compares replica
  * digests for exactly the partitions it touches, streams each stale
  * replica the DIFF it is missing (Cassandra's merge listener builds
  * per-replica diff mutations — never the full partition), and leaves
  * every partition the workload never read UNREPAIRED. The proof that
  * this is read repair and not `nodetool repair` is the unread
  * cohort: it must STAY divergent.
  *
  *  - **Replicas.** A holds the full corpus; B missed every write
  *    timestamped at or after [[StaleFromUs]] (a replica that was
  *    briefly partitioned and lost the hint window).
  *  - **Read set.** The workload reads partitions with
  *    `key % [[ReadMod]] == 0`.
  *  - **Detect.** Per read partition, (count, digest) off each
  *    replica's REAL file; a mismatch (including partitions absent
  *    from B entirely) marks the partition stale.
  *  - **Patch.** A's events for the mismatched read partitions,
  *    anti-joined against B's on full event identity — the diff
  *    mutation — flushed through the real sink as B's patch sstable.
  *  - **Verify.** Per cohort (read / unread): B ∪ patch re-compares
  *    against A partition by partition. The read cohort converges to
  *    zero divergence; the unread cohort's divergence count is
  *    untouched.
  *
  * Scale shape: digest comparison is one narrow per-key aggregate per
  * replica joined on the key (the read's own quorum traffic); the
  * diff anti-join touches only mismatched read partitions' events;
  * the patch write is one clustered-sink exchange. Nothing scans
  * outside the read set until the verification pass (which a real
  * cluster never runs — it IS the oracle's job here). */
object ReadRepair {

  private val memo = new SessionMemo[String]

  /** B's outage: every event at/after this timestamp is missing
    * (fixture day 2200 — late enough that most partitions are clean,
    * early enough that both cohorts have stale members). */
  val StaleFromUs: Long = 2200L * 86400000000L

  /** The read workload: partitions with key % ReadMod == 0. */
  val ReadMod = 3L

  /** Generations: A = 2500, B = 2510, B's patch = 2520. */
  val AGen = 2500L
  val BGen = 2510L
  val PatchGen = 2520L

  private val M = 1000003L


  private def corpus(spark: SparkSession, dir: String): DataFrame = {
    val inPath = CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true)
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra)
  }

  private val EventCols = Seq("key", "clustering", "column_name", "kind",
    "timestamp_us", "ttl_s", "local_deletion_time_s", "is_tombstone",
    "is_expiring", "size_bytes")

  private def sink(ev: DataFrame, gen: Long, out: String): Unit =
    ev.select((lit(s"sst-$gen").as("sstable_id") +:
        EventCols.map(col)): _*)
      .write.format("sstable-data")
      .option("path", out).option("compressed", "true")
      .mode("append").save()

  /** A's (full) and B's (stale-gapped) files under one dir
    * (session-memoized). */
  def ensureReplicas(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|rr-replicas") {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-readrepair")).toString
      val ev = corpus(spark, dir)
      sink(ev, AGen, out)
      sink(ev.where(col("timestamp_us") < StaleFromUs), BGen, out)
      out
    }

  // raw-equality filter on the scan's sstable_id: PUSHES DOWN (the
  // DSv2 prunes the other replica's whole file at planning) — a
  // regexp-transformed filter would read both files and drop rows
  private def replica(spark: SparkSession, path: String, gen: Long)
      : DataFrame =
    DataDb.cells(spark, path, format = DataDbScan.FormatCassandra)
      .where(col("sstable_id") === s"nb-${gen + 1}-big")

  private def eventHash = graft.functions.PortableHash.h60(concat_ws(":",
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("size_bytes"))) % M

  private def perKey(ev: DataFrame): DataFrame =
    ev.groupBy("key")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))

  private def isRead = pmod(col("key"), lit(ReadMod)) === 0

  /** The diff patch, derived THROUGH the digest comparison (not the
    * staleness predicate): mismatched read partitions' A-events
    * anti-joined against B (session-memoized). */
  def ensurePatched(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|rr-patch") {
      val reps = ensureReplicas(spark, dir)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-rr-patch")).toString
      val a = replica(spark, reps, AGen)
      val b = replica(spark, reps, BGen)
      val mismatched = perKey(a.where(isRead)).as("a")
        .join(perKey(b.where(isRead)).as("b"), Seq("key"), "left")
        .where(col("b.events").isNull ||
          col("a.events") =!= col("b.events") ||
          col("a.digest") =!= col("b.digest"))
        .select("key")
      val patch = a.join(mismatched, Seq("key"), "left_semi")
        .join(b, EventCols, "left_anti")
      sink(patch, PatchGen, out)
      out
    }

  /** q227: one row per cohort (read / unread) — partitions, the
    * digest-detected stale count, the diff events streamed, and the
    * AFTER state: the read cohort converges to zero divergence, the
    * unread cohort's divergence is untouched (the semantic that
    * separates read repair from anti-entropy). */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val reps = ensureReplicas(spark, dir)
    val patchPath = ensurePatched(spark, dir)
    val a = replica(spark, reps, AGen)
    val b = replica(spark, reps, BGen)
    val patch = DataDb.cells(spark, patchPath,
      format = DataDbScan.FormatCassandra)
    def cohort = when(isRead, "read").otherwise("unread")
    val aK = perKey(a).withColumn("cohort", cohort)
    val beforeB = perKey(b)
    // B∪patch per-key stats derived ADDITIVELY from the two per-side
    // aggregates (round 19, guide §1.2): count and the commutative
    // digest both distribute over the union, so the second full scan +
    // re-aggregation of B's file is replaced by a tiny full-outer merge
    // of two O(#keys) relations — and beforeB's aggregate subtree now
    // appears twice IDENTICALLY, so the exchange is planned once.
    val patchK = perKey(patch)
    val afterB = beforeB
      .select(col("key"), col("events").as("b_ev"),
        col("digest").as("b_dg"))
      .join(patchK.select(col("key"), col("events").as("p_ev"),
        col("digest").as("p_dg")), Seq("key"), "full_outer")
      .select(col("key"),
        (coalesce(col("b_ev"), lit(0L)) + coalesce(col("p_ev"), lit(0L)))
          .as("events"),
        (coalesce(col("b_dg"), lit(0L)) + coalesce(col("p_dg"), lit(0L)))
          .as("digest"))
    val joined = aK.as("a")
      .join(beforeB.as("bb"), Seq("key"), "left")
      .join(afterB.as("ab"), Seq("key"), "left")
      .select(col("cohort"), col("key"),
        (col("bb.events").isNull ||
          col("a.events") =!= col("bb.events") ||
          col("a.digest") =!= col("bb.digest")).as("stale_before"),
        (col("ab.events").isNull ||
          col("a.events") =!= col("ab.events") ||
          col("a.digest") =!= col("ab.digest")).as("diverged_after"))
    // per-cohort patched totals from the SAME per-key patch aggregate
    // (round 19): count distributes over the per-key grouping, so the
    // patch file is scanned once, not twice
    val patched = patchK.withColumn("cohort", cohort)
      .groupBy("cohort").agg(sum(col("events")).as("patched_events"))
    joined.groupBy("cohort")
      .agg(
        count(lit(1)).as("partitions"),
        sum(when(col("stale_before"), 1L).otherwise(0L))
          .as("stale_partitions"),
        sum(when(col("stale_before") && !col("diverged_after"), 1L)
          .otherwise(0L)).as("repaired_partitions"),
        sum(when(col("diverged_after"), 1L).otherwise(0L))
          .as("diverged_after"))
      .join(patched, Seq("cohort"), "left")
      .select(col("cohort"), col("partitions"), col("stale_partitions"),
        coalesce(col("patched_events"), lit(0L)).as("patched_events"),
        col("repaired_partitions"), col("diverged_after"),
        (when(col("cohort") === "read", col("diverged_after") === 0)
          .otherwise(col("diverged_after") === col("stale_partitions")))
          .as("contract_held"))
      .orderBy("cohort")
  }
}
