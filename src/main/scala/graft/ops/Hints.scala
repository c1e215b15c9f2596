package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.commitlog.CommitLogFormat
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** Hinted handoff, executed end to end (round 16) — the write-path
  * availability mechanism the topology family (W27/W29) left implicit:
  * when a replica is DOWN, the coordinator doesn't drop its writes, it
  * STORES them as hints (per-target files carrying the same
  * descriptor + CRC'd entry framing as the commitlog) and REPLAYS them
  * when the node returns, converging it without a repair.
  *
  *  - **Ring.** [[BulkLoad]]'s 4-node RF=2 ring: node n holds quarters
  *    {n, n-1}. The [[Target]] (node 3) holds quarters {3, 2}.
  *  - **Outage.** Writes timestamped inside [[OutageStartUs]],
  *    [[OutageEndUs]]) cannot reach node 3. Its sstable therefore
  *    holds its quarters' corpus MINUS the window. Each missed
  *    quarter's hints accumulate at that quarter's surviving replica
  *    (quarter 2 → node 2, quarter 3 → node 0 — the live replica
  *    stands in as the write's coordinator in this 2-replica model),
  *    one real `Hints-<version>-<target>-<coordinator>.log` each.
  *  - **Replay.** The returned node's hints parse fail-closed (same
  *    codec as q221's recovery) and flush through the real sstable
  *    sink — one received sstable per coordinator, mirroring the
  *    real dispatcher's per-file replay.
  *  - **Converge.** Per (quarter, origin): the read-back of the REAL
  *    files must digest-equal the corpus split (retained = outside
  *    the window, hinted = inside), and per quarter the two origins
  *    must sum back to the full corpus — RF restored with no
  *    anti-entropy pass.
  *
  * Scale shape: hint files are bounded node-local artifacts (the
  * fixture writer distributes via [[WalWriter]], round 17);
  * reading them is one task per file; the flush is the sink's one
  * clustered exchange; digests are narrow commutative aggregates. */
object Hints {

  private val memo = new SessionMemo[String]

  /** The down node. */
  val Target = 3L

  /** Outage window (fixture days [1500, 2000)): mid-corpus, so both
    * the retained and the hinted halves are non-trivial in BOTH held
    * quarters. */
  val OutageStartUs: Long = 1500L * 86400000000L
  val OutageEndUs: Long = 2000L * 86400000000L

  /** (quarter, coordinator): the surviving replica that stores the
    * quarter's hints while the target is down. */
  val Coordinators: Seq[(Long, Long)] = Seq((2L, 2L), (3L, 0L))

  /** The target's retained (outage-gapped) sstable generation. */
  val RetainedGen = 2200L

  /** Replayed-hint generations: coordinator c's file flushes to
    * sst-([[ReplayGenBase]]+c). */
  val ReplayGenBase = 2210L

  private val M = 1000003L


  private def corpusHeld(spark: SparkSession, dir: String): DataFrame = {
    val inPath = CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true)
    DataDb.cells(spark, inPath, format = DataDbScan.FormatCassandra)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      .where(col("quarter").isin(Coordinators.map(_._1): _*))
  }

  private def inWindow =
    col("timestamp_us") >= OutageStartUs &&
      col("timestamp_us") < OutageEndUs

  /** The target's outage-gapped sstable + the coordinators' hint
    * files, under one dir (session-memoized). */
  def ensureOutage(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|hints-outage") {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-hints")).toString
      val held = corpusHeld(spark, dir)
      // the write the node DID see: everything outside the window
      held.where(!inWindow)
        .select(
          lit(s"sst-$RetainedGen").as("sstable_id"),
          col("key"), col("clustering"), col("column_name"), col("kind"),
          col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
          col("is_tombstone"), col("is_expiring"), col("size_bytes"))
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      // the writes it missed: one hints file per coordinator, entries
      // in the WAL's append order — written from EXECUTORS (round 17):
      // the coordinator map assigns each missed write its file, and
      // [[WalWriter.write]] rolls one file per coordinator
      import spark.implicits._
      val coordOf = Coordinators.foldLeft(lit(-1L)) {
        case (acc, (quarter, coord)) =>
          when(col("quarter") === quarter, lit(coord)).otherwise(acc)
      }
      val entries = held.where(inWindow)
        .select(coordOf.as("fileId"),
          col("timestamp_us").as("timestampUs"), col("key"),
          col("clustering"), col("column_name").as("columnName"),
          col("kind"), col("ttl_s").as("ttlS"),
          col("local_deletion_time_s").as("localDeletionTimeS"),
          col("is_tombstone").as("isTombstone"),
          col("is_expiring").as("isExpiring"),
          col("size_bytes").as("sizeBytes"))
        .as[WalWriter.WalEntry]
      WalWriter.write(entries, out,
        coord => CommitLogFormat.hintsName(Target, coord),
        coord => CommitLogFormat.hintsId(Target, coord))
      out
    }

  /** Replay the hint files through the sink: one received sstable per
    * coordinator (session-memoized). */
  def ensureReplayed(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|hints-replay") {
      val outage = ensureOutage(spark, dir)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-hints-rx")).toString
      import spark.implicits._
      spark.read.format("binaryFile")
        .load(s"$outage/${CommitLogFormat.HintsPrefix}*" +
          CommitLogFormat.Suffix)
        .select(col("content")).as[Array[Byte]]
        .flatMap { bytes =>
          val seg = CommitLogFormat.parseSegment(bytes)
          val coord = CommitLogFormat.hintsCoordinatorOf(seg.id)
          seg.mutations.map(m => (coord, m.key, m.clustering,
            m.columnName, m.kind, m.timestampUs, m.ttlS,
            m.localDeletionTimeS, m.isTombstone, m.isExpiring,
            m.sizeBytes))
        }
        .toDF("coord", "key", "clustering", "column_name", "kind",
          "timestamp_us", "ttl_s", "local_deletion_time_s",
          "is_tombstone", "is_expiring", "size_bytes")
        .select(
          concat(lit("sst-"), (lit(ReplayGenBase) + col("coord"))
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

  /** q225: one row per (held quarter, origin) — the retained file's
    * and the replayed hints' read-backs against the corpus SPLIT
    * (outside/inside the outage window), the coordinator that stored
    * each hinted half, and the quarter-level convergence: the two
    * origins sum back to the full corpus, RF restored hint-by-hint. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // quarter totals ride the (quarter, origin) aggregate via a window
    // (round 19, guide §1.2/§2.4): count and the commutative digest both
    // distribute over origins, so the second corpus scan is replaced by
    // an in-partition sum over the tiny aggregated relation
    val wq = org.apache.spark.sql.expressions.Window.partitionBy("quarter")
    val corpus = corpusHeld(spark, dir)
      .withColumn("origin", when(inWindow, "hinted").otherwise("retained"))
      .groupBy("quarter", "origin")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
      .withColumn("quarter_events", sum("corpus_events").over(wq))
      .withColumn("quarter_digest", sum("corpus_digest").over(wq))
    val coordOf = Coordinators.toDF("quarter", "coordinator")
    val retained = DataDb.cells(spark, ensureOutage(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      .withColumn("origin", lit("retained"))
      .withColumn("coordinator", lit(Target))
    val hinted = DataDb.cells(spark, ensureReplayed(spark, dir),
        format = DataDbScan.FormatCassandra)
      .withColumn("quarter",
        shiftright(AntiEntropy.token(col("key")), BulkLoad.QuarterShift))
      .withColumn("origin", lit("hinted"))
      .join(broadcast(coordOf), Seq("quarter"))
    val views = retained
      .unionByName(hinted.select(retained.columns.map(col).toSeq: _*))
      .groupBy("quarter", "origin", "coordinator")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    // convergence totals via the same window trick over the view rows —
    // the separate groupBy branch re-executed the union+scan subtree
    val viewsW = views
      .withColumn("sum_events", sum("events").over(wq))
      .withColumn("sum_digest", sum("digest").over(wq))
    viewsW
      .join(corpus, Seq("quarter", "origin"))
      .select(col("quarter"), col("origin"), col("coordinator"),
        col("events"), col("digest"),
        col("corpus_events"), col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"),
        col("quarter_events"), col("quarter_digest"),
        (col("sum_events") === col("quarter_events") &&
          col("sum_digest") === col("quarter_digest")).as("converged"))
      .orderBy("quarter", "origin")
  }
}
