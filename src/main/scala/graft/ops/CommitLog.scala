package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.commitlog.CommitLogFormat
import graft.sources.datadb.{DataDb, DataDbScan}

/** The commitlog (write-ahead log) family, executed end to end (round
  * 16) — the one Cassandra lifecycle stage the engine didn't model:
  * what a node logs BEFORE a memtable flush ever produces an sstable.
  * The reference family reads only sstables at rest (the reference
  * repo has no commitlog reader); this extends the same format layer
  * one stage earlier, with the replay semantics `commitlog_archiving`
  * restores depend on.
  *
  *  - **Log.** Every lineitem cell event is one logged mutation in
  *    RAW form (the WAL records what the client wrote — the
  *    representation mapping a Data.db scan applies happens at flush,
  *    not at log time), appended in timestamp order with full-field
  *    tiebreaks. Segments and sync sections cut by the div rule over
  *    the running entry-byte sum ([[CommitLogFormat.SegmentBytes]] /
  *    [[CommitLogFormat.SectionBytes]]), so the DuckDB oracle replays
  *    the exact assignment with one window cumulative sum.
  *  - **Recover (q221).** Segments parse fail-closed (header, marker
  *    chain and per-entry CRCs all verify), mutations reconcile into
  *    memtable state — LWW per (key, clustering, column_name), NO
  *    tombstone purge (recovery keeps deletes; only compaction may
  *    drop them) — and the state flushes through the real sstable
  *    sink. The production scan of the flushed files must then roll
  *    up to exactly the oracle's replayed reconciliation.
  *  - **Point-in-time restore (q223).** The same replay bounded at
  *    [[RestorePointUs]] — `restore_point_in_time`'s contract: every
  *    mutation at or before the point replays, everything after is
  *    discarded, and the flushed state is the bounded reconciliation.
  *
  * Scale shape: a WAL is a per-node sequential artifact — nodes write
  * it; the engine only READS it, one task per segment (bounded files,
  * embarrassingly parallel), then ONE combine-enabled LWW exchange
  * (the same aggregate shape as [[Compaction.mergeWinners]]) into the
  * clustered sink. The fixture writer DISTRIBUTES too (round 17):
  * segment assignment is a two-level prefix sum and executors write
  * the files ([[WalWriter]]) — no corpus-scale driver collect even in
  * fixture staging. */
object CommitLog {

  private val memo = new SessionMemo[String]

  /** PITR bound (fixture day 1200): mid-corpus, so both the replayed
    * and the discarded halves are non-trivial. */
  val RestorePointUs: Long = 1200L * 86400000000L

  /** Recovered-flush generations: replay writes sst-(key % shards). */
  private val M = 1000003L


  /** Write the corpus WAL under a temp dir (session-memoized): every
    * licell as one mutation, append-ordered, segmented by the div
    * rule. DISTRIBUTED since round 17 (VERDICT r16 ask #7): segment
    * assignment is a two-level prefix sum ([[WalWriter.assignSegments]])
    * and executors write the segment files ([[WalWriter.write]]) —
    * byte-identical to the old driver-sequential layout, with no
    * corpus-scale collect. */
  def ensureWal(spark: SparkSession, dir: String): String = {
    val wal = memo(spark, s"$dir|wal") {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-commitlog")).toString
      import spark.implicits._
      val entries = Fixtures.cells(spark, dir)
        .select(lit(-1L).as("fileId"),
          col("timestamp_us").as("timestampUs"), col("key"),
          col("clustering"), col("column_name").as("columnName"),
          col("kind"), col("ttl_s").as("ttlS"),
          col("local_deletion_time_s").as("localDeletionTimeS"),
          col("is_tombstone").as("isTombstone"),
          col("is_expiring").as("isExpiring"),
          col("size_bytes").as("sizeBytes"))
        .as[WalWriter.WalEntry]
      val assigned = WalWriter.assignSegments(spark, entries)
      val expected = assigned.select("fileId").distinct().count()
      WalWriter.write(assigned, out, CommitLogFormat.segmentName, identity)
      val written = segmentFileCount(out)
      if (written != expected)
        throw new IllegalStateException(s"graft WAL fixture incomplete: " +
          s"wrote $written segment files under $out, expected $expected " +
          s"(for $dir)")
      out
    }
    // VERIFY ON EVERY REUSE, not just after the write (round 19, VERDICT
    // r18 ask #3): the memo outlives the files — /tmp cleanup or the
    // JVM-exit sweep racing an in-flight query (the r18 kill tail) left
    // callers globbing a missing dir, which surfaced as an opaque
    // AnalysisException deep inside analysis. A labeled error here keeps
    // the failure per-query-contained and diagnosable.
    if (segmentFileCount(wal) <= 0)
      throw new IllegalStateException(s"graft WAL fixture missing: " +
        s"memoized segment dir $wal has no " +
        s"${CommitLogFormat.NamePrefix}*${CommitLogFormat.Suffix} files " +
        s"(swept or deleted after the session memoized it, for $dir)")
    wal
  }

  /** The committed-file list of a FileStreamSink `_spark_metadata` log
    * (exactly-once contract — a raw part glob would double-read files
    * left by aborted/speculative tasks). Batch files sort NUMERICALLY
    * (ADVICE r17: "10" after "9"); an "<n>.compact" file IS the full
    * surviving-file list as of batch n (Spark's FileStreamSink log
    * semantics), so reading starts at the LATEST compact and covers
    * only the plain batches after it — a retention-cleaned path
    * deleted by the compact can never be resurrected by the earlier
    * plain batch that added it (ADVICE r18). Within the effective
    * files, actions APPLY in order: an add inserts, a delete removes a
    * previously-added path (absent action = add, the v1 default). Each
    * log line after the "v1" header is a SinkFileStatus JSON object,
    * parsed AS JSON (ADVICE r17 — a substring regex would mis-extract
    * escaped-quote paths and break silently on a format change).
    * O(#batches) driver work. */
  private[graft] def committedSinkFiles(
      metaDir: java.io.File): Seq[String] = {
    val batchFiles = Option(metaDir.listFiles())
      .getOrElse(Array.empty[java.io.File])
      // batch files are "<n>" or "<n>.compact"; skip Hadoop's hidden
      // binary ".<n>.crc" shadows
      .filter { f =>
        val head = f.getName.takeWhile(_ != '.')
        head.nonEmpty && head.forall(_.isDigit)
      }
      .sortBy(f => (f.getName.takeWhile(_ != '.').toLong,
        f.getName.contains('.')))
    val lastCompact = batchFiles
      .filter(_.getName.endsWith(".compact"))
      .map(_.getName.takeWhile(_ != '.').toLong)
      .maxOption
    val effective = batchFiles.filter { f =>
      val n = f.getName.takeWhile(_ != '.').toLong
      lastCompact.forall(c =>
        n > c || (n == c && f.getName.endsWith(".compact")))
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val committed = scala.collection.mutable.LinkedHashSet.empty[String]
    effective.foreach { bf =>
      val lines = java.nio.file.Files.readAllLines(bf.toPath)
      lines.asScala.filter(l => l.startsWith("{")).foreach { l =>
        val node = mapper.readTree(l)
        val action = Option(node.get("action")).map(_.asText())
        val path = Option(node.get("path")).map(_.asText())
        require(path.isDefined,
          s"unrecognized sink-log entry in ${bf.getName}: $l")
        if (action.contains("delete")) committed -= path.get
        else committed += path.get
      }
    }
    committed.toSeq
  }

  /** Count of WAL segment files under `wal` (0 when the dir itself is
    * gone) — the reuse-time existence check above. */
  private def segmentFileCount(wal: String): Long = {
    val files = new java.io.File(wal).listFiles()
    if (files == null) 0L
    else files.count(f => f.getName.startsWith(CommitLogFormat.NamePrefix) &&
      f.getName.endsWith(CommitLogFormat.Suffix)).toLong
  }

  /** Parsed mutations, one task per segment, RAW fields + segment id. */
  def mutations(spark: SparkSession, dir: String): DataFrame = {
    val wal = ensureWal(spark, dir)
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$wal/${CommitLogFormat.NamePrefix}*${CommitLogFormat.Suffix}")
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (_, bytes) =>
        val seg = CommitLogFormat.parseSegment(bytes)
        seg.mutations.map(m => (seg.id, m.key, m.clustering, m.columnName,
          m.kind, m.timestampUs, m.ttlS, m.localDeletionTimeS,
          m.isTombstone, m.isExpiring, m.sizeBytes))
      }
      .toDF("segment", "key", "clustering", "column_name", "kind",
        "timestamp_us", "ttl_s", "local_deletion_time_s",
        "is_tombstone", "is_expiring", "size_bytes")
  }

  /** q222: the per-segment report — entries, sections, file bytes,
    * entry-byte volume, timestamp span and a key digest, every column
    * recomputable by the oracle's windowed replay of the append order
    * and the div-rule cuts.
    *
    * ONE parse pass (ADVICE r16): each segment is fully in memory in
    * its parse task, so its report row aggregates in-task — no second
    * binaryFile scan, no groupBy exchange, no join. O(#segments)
    * output. `crc_verified` is enforced, not compared: parseSegment is
    * fail-closed (header, marker chain and per-entry CRCs all throw on
    * mismatch), so any segment that yields a row verified by
    * construction — the prior entries===parsed_entries derivation
    * compared two counts from the SAME parser and was tautological. */
  def segments(spark: SparkSession, dir: String): DataFrame = {
    val wal = ensureWal(spark, dir)
    import spark.implicits._
    spark.read.format("binaryFile")
      .load(s"$wal/${CommitLogFormat.NamePrefix}*${CommitLogFormat.Suffix}")
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .map { case (_, bytes) =>
        val seg = CommitLogFormat.parseSegment(bytes)
        val ms = seg.mutations
        val entryBytes =
          ms.iterator.map(CommitLogFormat.entryLength(_).toLong).sum
        (seg.id, ms.size.toLong, seg.sections.size.toLong, entryBytes,
          seg.bytes, ms.iterator.map(_.timestampUs).min,
          ms.iterator.map(_.timestampUs).max,
          ms.iterator.map(_.key % M).sum,
          ms.count(_.isTombstone).toLong, true)
      }
      .toDF("segment", "entries", "sections", "entry_bytes", "file_bytes",
        "first_ts_us", "last_ts_us", "keys_sum", "tombstones",
        "crc_verified")
      .orderBy("segment")
  }

  /** The memtable reconciliation: LWW per (key, clustering,
    * column_name) over SCAN-REPRESENTATION fields (the flush writes
    * what a scan would render: deleted cells carry no TTL and no
    * value; live value length is `size_bytes % 61`), keeping
    * tombstones — recovery never purges. The same one-exchange
    * combine-enabled aggregate as [[Compaction.mergeWinners]]. */
  private def reconcile(mu: DataFrame): DataFrame = {
    val mapped = mu.select(
      col("key"), col("clustering"), col("column_name"), col("kind"),
      col("timestamp_us"),
      when(col("is_tombstone"), -1L).otherwise(col("ttl_s")).as("ttl_s"),
      col("local_deletion_time_s"), col("is_tombstone"), col("is_expiring"),
      when(col("is_tombstone"), 0L).otherwise(col("size_bytes") % 61)
        .as("size_bytes"))
    mapped.groupBy("key", "clustering", "column_name")
      .agg(max(struct(
        col("timestamp_us"), col("size_bytes"), col("is_tombstone"),
        col("local_deletion_time_s"), col("ttl_s"), col("is_expiring"),
        col("kind"))).as("w"))
      .select(col("key"), col("clustering"), col("column_name"),
        col("w.kind").as("kind"),
        col("w.timestamp_us").as("timestamp_us"),
        col("w.ttl_s").as("ttl_s"),
        col("w.local_deletion_time_s").as("local_deletion_time_s"),
        col("w.is_tombstone").as("is_tombstone"),
        col("w.is_expiring").as("is_expiring"),
        col("w.size_bytes").as("size_bytes"))
  }

  /** Replay + flush under a temp dir (session-memoized); `boundUs`
    * (PITR) discards mutations after the restore point at parse-filter
    * time, before the reconcile exchange. */
  private def ensureFlushed(spark: SparkSession, dir: String,
      boundUs: Option[Long]): String =
    memo(spark, s"$dir|flush|${boundUs.getOrElse(-1L)}") {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-clreplay")).toString
      val mu0 = mutations(spark, dir)
      val mu = boundUs.fold(mu0)(t => mu0.where(col("timestamp_us") <= t))
      val state = reconcile(mu)
      val modelBytes = state
        .agg(sum(lit(Compaction.EventOverheadBytes) + col("size_bytes")))
        .head.getLong(0)
      val shards = Compaction.outputShards(modelBytes)
      state
        .select(
          concat(lit("sst-"), pmod(col("key"), lit(shards)))
            .as("sstable_id"),
          col("key"), col("clustering"), col("column_name"), col("kind"),
          col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
          col("is_tombstone"), col("is_expiring"), col("size_bytes"))
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }

  private def rollup(scan: DataFrame): DataFrame =
    scan.groupBy("sstable_id")
      .agg(
        count(lit(1)).as("events"),
        sum(when(col("kind") === "CELL", 1L).otherwise(0L)).as("cells"),
        countDistinct("key").as("partitions"),
        sum(col("key") % M).as("keys_sum"),
        sum(col("clustering") % M).as("clustering_sum"),
        sum(col("timestamp_us") % M).as("ts_sum"),
        sum(col("ttl_s") % M).as("ttl_sum"),
        sum(col("local_deletion_time_s") % M).as("ldt_sum"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"),
        sum(col("size_bytes") % M).as("value_sum"))
      .orderBy("sstable_id")

  /** q221: full recovery — the flushed files' production re-scan rolls
    * up per shard; the oracle replays log order, CRC-clean parse,
    * LWW reconciliation (no purge) and the shard rule from parquet. */
  def replay(spark: SparkSession, dir: String): DataFrame =
    rollup(recoveredScan(spark, dir, None))

  /** The full-recovery flush dir — the engine's own post-snapshot
    * write activity, reused by the incremental-backup composition
    * (q235). */
  def flushedDir(spark: SparkSession, dir: String): String =
    ensureFlushed(spark, dir, None)

  /** q223: point-in-time restore at [[RestorePointUs]]. */
  def pitr(spark: SparkSession, dir: String): DataFrame =
    rollup(recoveredScan(spark, dir, Some(RestorePointUs)))

  private def recoveredScan(spark: SparkSession, dir: String,
      boundUs: Option[Long]): DataFrame = {
    val outPath = ensureFlushed(spark, dir, boundUs)
    DataDb.cells(spark, outPath, format = DataDbScan.FormatCassandra)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))
  }

  // ------------------------------------------------------------------
  // CDC: a consumer tailing the WAL directory (Cassandra's cdc_raw
  // contract — segments land in a directory; a consumer reads each
  // exactly once and tracks its own offsets)

  private val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("length",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content",
      org.apache.spark.sql.types.BinaryType)))

  /** The streaming parse: segment files → mutations, one task per
    * arriving file, CRCs verified fail-closed as in batch. */
  private def cdcMutations(spark: SparkSession, ingestDir: String)
      : DataFrame = {
    import spark.implicits._
    spark.readStream.format("binaryFile").schema(binaryFileSchema)
      .load(s"$ingestDir/${CommitLogFormat.NamePrefix}*" +
        CommitLogFormat.Suffix)
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        val seg = CommitLogFormat.parseSegment(bytes)
        seg.mutations.map(m => (seg.id, m.key, m.timestampUs,
          m.isTombstone))
      }
      .toDF("segment", "key", "timestamp_us", "is_tombstone")
  }

  /** q224: the CDC consumer's EXACTLY-ONCE RESUME contract under the
    * oracle — the first streaming-restart semantic put under a hash
    * check (every prior streaming oracle runs a single query
    * lifetime):
    *
    *  - segments `[0, K)` (K = ceil(n/2), derivable from the div-rule
    *    replay) are staged and a checkpointed consumer drains them
    *    (run 1);
    *  - the consumer STOPS — a deploy, a crash, a rebalance;
    *  - the remaining segments land, and a NEW query starts from the
    *    SAME checkpoint: its sourced offsets must skip everything run
    *    1 consumed, so run 2 emits EXACTLY segments `[K, n)` — no
    *    replay, no loss.
    *
    * Output: one row per run with the consumed segment span and
    * content checksums; the oracle replays the same split from
    * parquet. A re-delivered or dropped segment breaks events/digest
    * for both runs. */
  def cdcResume(spark: SparkSession, dir: String): DataFrame =
    sharedCdc(spark, dir)

  private def sharedCdc(spark: SparkSession, dir: String): DataFrame = {
    val resultPath = memo(spark, s"$dir|cdc") {
      val wal = ensureWal(spark, dir)
      val segFiles = Option(new java.io.File(wal).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith(CommitLogFormat.NamePrefix))
        .sortBy(f => CommitLogFormat.idOf(f.getName))
      require(segFiles.length >= 2, "CDC resume needs >=2 segments")
      val k = (segFiles.length + 1) / 2
      val ingest = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-cdc-ingest"))
      val checkpoint = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-cdc-ckpt"))
      def stage(files: Seq[java.io.File]): Unit = files.foreach { f =>
        val dest = ingest.resolve(f.getName)
        java.nio.file.Files.copy(f.toPath, dest)
        dest.toFile.setLastModified(
          60000L * (CommitLogFormat.idOf(f.getName) + 1))
        ()
      }
      // the production FILE sink (exactly-once via the checkpointed
      // source offsets + the sink's own transaction log), not the
      // test-only memory sink — which cannot recover from a checkpoint.
      // The checkpoint is SHARED across runs (that is the semantic
      // under test); each run's sink dir is its own, so attribution of
      // "what did the restarted consumer emit" is physical.
      def drain(run: Long): String = {
        val outRun = graft.sources.TempDirs.register(
          java.nio.file.Files.createTempDirectory(s"graft-cdc-out$run"))
        val q = cdcMutations(spark, ingest.toString)
          .writeStream.format("parquet")
          .option("path", outRun.toString)
          .option("checkpointLocation", checkpoint.toString)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        outRun.toString
      }
      stage(segFiles.take(k))
      val out1 = drain(1L)
      stage(segFiles.drop(k))
      val out2 = drain(2L)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-cdc-out")).toString
      // read each sink dir through its _spark_metadata transaction log
      // (ADVICE r16): the committed-file list is the sink's exactly-once
      // contract — a raw part glob would double-read files left by
      // aborted/speculative tasks. The directory READER can't do this
      // itself here (run 2's log starts at the shared checkpoint's batch
      // 1, which it rejects as gapped), so the committed list is parsed
      // from the log's add-entries directly — O(#batches) driver work.
      def parts(d: String) = {
        val committed =
          committedSinkFiles(new java.io.File(d, "_spark_metadata"))
        require(committed.nonEmpty,
          s"no committed files in $d/_spark_metadata")
        spark.read.parquet(committed: _*)
      }
      parts(out1).withColumn("run", lit(1L))
        .unionByName(parts(out2).withColumn("run", lit(2L)))
        .write.mode("overwrite").parquet(out)
      out
    }
    spark.read.parquet(resultPath)
      .groupBy("run")
      .agg(
        countDistinct("segment").as("segments"),
        min("segment").as("first_segment"),
        max("segment").as("last_segment"),
        count(lit(1)).as("events"),
        sum(col("key") % M).as("keys_sum"),
        sum(col("timestamp_us") % M).as("ts_sum"),
        sum(when(col("is_tombstone"), 1L).otherwise(0L)).as("tombstones"))
      .orderBy("run")
  }
}
