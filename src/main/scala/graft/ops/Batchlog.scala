package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.commitlog.CommitLogFormat
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** The batchlog, executed end to end (round 16) — Cassandra's atomic
  * (logged) batch guarantee: a multi-partition batch is written to the
  * batchlog BEFORE any of its mutations apply; on success the log
  * entry is deleted; after a coordinator crash, surviving entries
  * REPLAY, completing every interrupted batch. The guarantee is
  * EVENTUAL ATOMICITY (all of the batch becomes visible), not
  * isolation — a crashed batch may be partially visible until replay,
  * and replaying over the partial apply must be IDEMPOTENT, which is
  * why verification runs on LWW-RECONCILED state (cell overwrites),
  * not raw multisets.
  *
  *  - **Workload.** Events timestamped at/after [[BatchedFromUs]] are
  *    client batches: batch id = `key % [[Batches]]` — batches SPAN
  *    partitions (the reason the batchlog exists).
  *  - **Crash.** Batches with `id % 3 == 0` completed: fully applied,
  *    log entry gone. The rest were interrupted mid-apply: only their
  *    `clustering = 0` prefix reached the table, and their FULL batch
  *    survives as a real `Batchlog-<version>-<id>.log` (the commitlog
  *    codec — real batchlog entries serialize mutations with the same
  *    framing).
  *  - **Replay.** Surviving files parse fail-closed and their
  *    mutations flush through the real sink — duplicates of the
  *    already-applied prefix included, exactly like the real replay.
  *  - **Verify.** Per batch, the LWW reconciliation of
  *    (applied ∪ replayed) off the REAL files must equal the
  *    reconciliation of the full batch — every batch ends complete,
  *    interrupted or not.
  *
  * Scale shape: batchlog files are bounded coordinator-local
  * artifacts read one-task-per-file; apply/replay are clustered sink
  * writes; verification is the one combine-enabled LWW exchange. */
object Batchlog {

  private val memo = new SessionMemo[String]

  /** Batched workload: events at/after this timestamp (fixture day
    * 2300). */
  val BatchedFromUs: Long = 2300L * 86400000000L

  /** Batch count (id = key % Batches). */
  val Batches = 8L

  /** A batch completed (applied + log deleted) iff id % 3 == 0. */
  def completed(id: Long): Boolean = id % 3 == 0

  /** Generations: the crash-time table state, then the replay flush. */
  val AppliedGen = 2600L
  val ReplayGen = 2610L

  val LogPrefix = "Batchlog-"

  def logName(id: Long): String =
    s"$LogPrefix${CommitLogFormat.Version}-$id${CommitLogFormat.Suffix}"

  private val M = 1000003L


  private def batched(spark: SparkSession, dir: String): DataFrame = {
    val inPath = CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true)
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra)
      .where(col("timestamp_us") >= BatchedFromUs)
      .withColumn("batch_id", pmod(col("key"), lit(Batches)))
  }

  private val EventCols = Seq("key", "clustering", "column_name", "kind",
    "timestamp_us", "ttl_s", "local_deletion_time_s", "is_tombstone",
    "is_expiring", "size_bytes")

  private def isCompleted = col("batch_id") % 3 === 0

  /** The crash-time state: the applied table file + the surviving
    * batchlog files, under one dir (session-memoized). */
  def ensureCrash(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|batchlog-crash") {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-batchlog")).toString
      val w = batched(spark, dir)
      // applied before the crash: completed batches fully, interrupted
      // batches only their clustering-0 prefix
      w.where(isCompleted || col("clustering") === 0)
        .select((lit(s"sst-$AppliedGen").as("sstable_id") +:
          EventCols.map(col)): _*)
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      // surviving batchlog files: the FULL batch each (the log is
      // written before any apply), written from EXECUTORS (round 17) —
      // batch_id IS the file id, one file per interrupted batch
      import spark.implicits._
      val interrupted = (0L until Batches).filterNot(completed)
      val entries = w.where(col("batch_id").isin(interrupted: _*))
        .select(col("batch_id").as("fileId"),
          col("timestamp_us").as("timestampUs"), col("key"),
          col("clustering"), col("column_name").as("columnName"),
          col("kind"), col("ttl_s").as("ttlS"),
          col("local_deletion_time_s").as("localDeletionTimeS"),
          col("is_tombstone").as("isTombstone"),
          col("is_expiring").as("isExpiring"),
          col("size_bytes").as("sizeBytes"))
        .as[WalWriter.WalEntry]
      WalWriter.write(entries, out, logName, identity)
      out
    }

  /** Replay every surviving batchlog file through the sink
    * (session-memoized): full batches, prefix duplicates included. */
  def ensureReplayed(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|batchlog-replay") {
      val crash = ensureCrash(spark, dir)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-batchlog-rx"))
        .toString
      import spark.implicits._
      spark.read.format("binaryFile")
        .load(s"$crash/$LogPrefix*${CommitLogFormat.Suffix}")
        .select(col("content")).as[Array[Byte]]
        .flatMap { bytes =>
          val seg = CommitLogFormat.parseSegment(bytes)
          seg.mutations.map(m => (m.key, m.clustering, m.columnName,
            m.kind, m.timestampUs, m.ttlS, m.localDeletionTimeS,
            m.isTombstone, m.isExpiring, m.sizeBytes))
        }
        .toDF(EventCols: _*)
        .select((lit(s"sst-$ReplayGen").as("sstable_id") +:
          EventCols.map(col)): _*)
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }

  /** The LWW winner struct at cell grain — reconcile's `max(struct)`
    * payload, shared by the fused after/expect aggregates. */
  private def winnerStruct = max(struct(
    col("timestamp_us"), col("size_bytes"), col("is_tombstone"),
    col("local_deletion_time_s"), col("ttl_s"), col("is_expiring"),
    col("kind"))).as("w")

  /** [[eventHash]] over a reconciled winner: same fields, same order,
    * read from the `w` struct instead of raw event columns. */
  private def winnerHash = graft.functions.PortableHash.h60(concat_ws(":",
    col("key"), col("clustering"), col("column_name"), col("w.kind"),
    col("w.timestamp_us"), col("w.ttl_s"),
    col("w.local_deletion_time_s"), col("w.size_bytes"))) % M

  /** q228: one row per batch — size, the crash-time partial apply,
    * whether a log file survived, the replayed mutation count, and
    * the reconciled AFTER state (events + digest), which must equal
    * the full batch's reconciliation: eventual atomicity, idempotent
    * over the partial prefix.
    *
    * FUSED (round 19, guide §1.2, the q182 pattern): the previous shape
    * scanned each input twice — applied/replayed once for their counts
    * and again inside the union reconcile, the batched workload once for
    * `full` and again for `expect` (6 real-codec scans, 5 exchanges).
    * Counts now RIDE the reconcile aggregates: LWW's `max(struct)` and
    * the per-source row counts distribute over the same cell-grain
    * grouping, so each input is scanned exactly once and the per-batch
    * rollup is a second, O(#cells-post-LWW) exchange. The former left-
    * join + coalesce(0) semantics (ADVICE r16: a batch with no crash-time
    * rows reports applied_before=0) fall out of the conditional sums —
    * a batch absent from one source sums that source's count to 0. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val crash = ensureCrash(spark, dir)
    val replayPath = ensureReplayed(spark, dir)
    val w = batched(spark, dir)
    val keyCols = Seq("key", "clustering", "column_name")
    // after-state: applied ∪ replayed tagged by source; ONE cell-grain
    // exchange computes the LWW winner AND both sources' counts
    val afterCells = DataDb.cells(spark, crash,
        format = DataDbScan.FormatCassandra)
      .select(EventCols.map(col): _*).withColumn("src", lit("a"))
      .unionByName(DataDb.cells(spark, replayPath,
          format = DataDbScan.FormatCassandra)
        .select(EventCols.map(col): _*).withColumn("src", lit("r")))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(when(col("src") === "a", 1L).otherwise(0L)).as("na"),
        sum(when(col("src") === "r", 1L).otherwise(0L)).as("nr"),
        winnerStruct)
    val after = afterCells
      .withColumn("batch_id", pmod(col("key"), lit(Batches)))
      .groupBy("batch_id")
      .agg(sum("na").as("applied_before"), sum("nr").as("replayed"),
        count(lit(1)).as("state_events"),
        sum(winnerHash).as("state_digest"))
    // expect: the full batch's LWW winners and its mutation count off ONE
    // scan of the batched workload
    val expect = w.select(EventCols.map(col): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), winnerStruct)
      .withColumn("batch_id", pmod(col("key"), lit(Batches)))
      .groupBy("batch_id")
      .agg(sum("n").as("mutations"),
        count(lit(1)).as("expect_events"),
        sum(winnerHash).as("expect_digest"))
    expect
      .join(after, Seq("batch_id"))
      .select(col("batch_id"), col("mutations"),
        col("applied_before"), col("replayed"),
        (!isCompleted).as("logged"),
        col("state_events"), col("state_digest"),
        (col("state_events") === col("expect_events") &&
          col("state_digest") === col("expect_digest")).as("atomic"))
      .orderBy("batch_id")
  }
}
