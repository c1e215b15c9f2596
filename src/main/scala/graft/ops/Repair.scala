package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}
import graft.sources.statsdb.CassandraStatsFormat

/** INCREMENTAL-REPAIR marking (round 13) — the metadata half of
  * Cassandra's anti-entropy cycle: once ranges verify (q173's digests),
  * the node stamps `repairedAt` into each participating sstable's
  * Statistics.db so future incremental repairs skip already-repaired
  * data. The reference SURFACES this field (`SSTableMetadata.isRepaired
  * / repairedAt`, CassandraBackend.java:89-123, the summary command's
  * repaired rollup) but can never produce it; this operator executes
  * the state transition on real files.
  *
  * The rewrite is METADATA-ONLY and byte-faithful: Data.db and every
  * other sidecar copy through untouched (Digest.crc32 covers Data.db,
  * so it stays valid); Statistics.db is re-serialized with ONLY
  * `repairedAtMs` changed — the serialization header component is
  * carried over verbatim from the original bytes, so the production
  * data scan still decodes through the rewritten stats file. q174
  * proves exactly that: the marked set is re-read through the FULL
  * scan (events equal the base set) and through the stats source
  * (every sstable now repaired at the stamped time), against a parquet
  * oracle. The summary command's F5 repaired predicate flips from
  * zero to everything on the marked copy. */
object Repair {

  /** Deterministic repair timestamp (a fixed epoch ms — repair time is
    * an input in a real deployment, a constant here so the oracle
    * replays it). */
  val RepairedAtMs = 1600000000000L

  private val memo = new SessionMemo[String]

  /** The base compressed set copied with every Statistics.db stamped
    * repaired; returns the marked directory (session-memoized). */
  def ensureRepaired(spark: SparkSession, dir: String): String =
    ensureMarked(spark, dir, "repaired", _ => true)

  /** Generations the PARTIAL marking stamps (q177's mixed set): the
    * first half of the fixture's six — a repair that covered some token
    * ranges and not others, the state incremental repair exists for. */
  val PartialRepairedGens: Set[Long] = Set(1L, 2L, 3L)

  /** The base compressed set with ONLY [[PartialRepairedGens]] stamped —
    * the mixed repaired/unrepaired layout an incremental digest must
    * split on (session-memoized). */
  def ensureRepairedPartial(spark: SparkSession, dir: String): String =
    ensureMarked(spark, dir, "repaired-partial",
      PartialRepairedGens.contains)

  private def ensureMarked(spark: SparkSession, dir: String, tag: String,
      markGen: Long => Boolean): String =
    memo(spark, s"$dir|$tag")(build(spark, dir, markGen))

  private def build(spark: SparkSession, dir: String,
      markGen: Long => Boolean): String =
    markDir(CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true), markGen)

  /** Copy an ARBITRARY sstable directory with `stampMs` stamped as
    * repairedAt into the Statistics.db of every generation `markGen`
    * accepts (round 14: the executed-repair cycle marks its converged
    * replicas, whatever files they hold) — the same byte-exact
    * metadata-only rewrite. `stampMs = 0` is the INVERSE direction
    * (round 16, sstablerepairedset --is-unrepaired): Cassandra's
    * unrepaired sentinel, forcing the next incremental repair to
    * re-verify the file. */
  def markDir(inPath: String,
      markGen: Long => Boolean = _ => true,
      stampMs: Long = RepairedAtMs): String = {
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-repaired"))
    val files = Option(new java.io.File(inPath).listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
    require(files.nonEmpty, s"no sstable files under $inPath")
    files.foreach { f =>
      val dest = out.resolve(f.getName)
      val gen = f.getName.split("-").lift(1).flatMap(_.toLongOption)
      if (f.getName.endsWith(CassandraStatsFormat.Suffix) &&
          gen.exists(markGen)) {
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val parsed = CassandraStatsFormat.parse(bytes)
        val header = CassandraStatsFormat.componentBytes(bytes,
          CassandraStatsFormat.TypeHeader)
        val o = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(dest.toFile)))
        try CassandraStatsFormat.write(o,
          parsed.copy(stats = parsed.stats.copy(
            repairedAtMs = stampMs)), Some(header))
        finally o.close()
      } else {
        java.nio.file.Files.copy(f.toPath, dest)
        ()
      }
    }
    out.toString
  }

  /** Generations the q209 reset flips back to unrepaired (the first
    * half — DIFFERENT from q177's partial marking, which leaves gens
    * 4–6 unrepaired, so the two relations' digests can never be
    * confused). */
  val ResetGens: Set[Long] = Set(1L, 2L, 3L)

  /** sstablerepairedset --is-unrepaired, executed (round 16, q209):
    * the FULLY-marked set with [[ResetGens]] flipped back to the
    * unrepaired sentinel (repairedAt = 0) — the recovery tool an
    * operator runs when a repair session's stamps must be withdrawn
    * (e.g. data resurrection suspected under a bad repair): the next
    * incremental digest re-verifies exactly the reset files.
    * Session-memoized. */
  def ensureUnrepairedReset(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|reset")(
      markDir(ensureRepaired(spark, dir),
        ResetGens.contains, stampMs = 0L))

  /** q209: the repairedset cycle — the fully-marked node plans ZERO
    * incremental reads; after the reset, the digest reads EXACTLY the
    * reset generations' events (planning-time pruning keeps the
    * still-marked half closed). One row per state. */
  def repairedSetRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val marked = ensureRepaired(spark, dir)
    val reset = ensureUnrepairedReset(spark, dir)
    AntiEntropy.incrementalTriple(spark, marked, "marked")
      .unionByName(AntiEntropy.incrementalTriple(spark, reset, "reset"))
      .orderBy("state")
  }

  /** Partition-key sliver of the CONTINUOUS-loop flush (q196): hot
    * keys re-written after the node was marked fully repaired. */
  val FlushSliverMod = 101L

  /** Generation of the q196 flush sstable. */
  val FlushGen = 991L

  /** Timestamp shift of the re-written events (newer than every base
    * write). */
  val FlushShiftUs = 2000000000L

  private val loopMemo = new SessionMemo[(String, String)]

  /** The CONTINUOUS incremental-repair loop's two states (round 15):
    * a fully-marked node receives one fresh flush (the
    * key%[[FlushSliverMod]] sliver re-written [[FlushShiftUs]] later,
    * as one real unrepaired sstable beside the marked files), then the
    * flush itself is marked once its ranges verify. Session-memoized;
    * returns (flushed state, marked state). */
  def ensureIncrementalLoop(spark: SparkSession, dir: String)
      : (String, String) =
    loopMemo(spark, s"$dir|increloop") {
      val marked = ensureRepaired(spark, dir)
      val state = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-repair-loop"))
      Option(new java.io.File(marked).listFiles())
        .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
        .foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            state.resolve(f.getName))
          ()
        }
      val base = CassandraDataFixture.ensureFiles(spark, dir,
        compressed = true)
      DataDb.cells(spark, base, format = DataDbScan.FormatCassandra)
        .where(pmod(col("key"), lit(FlushSliverMod)) === 0L)
        .withColumn("timestamp_us",
          col("timestamp_us") + FlushShiftUs)
        .select(
          lit(s"sst-${FlushGen - 1}").as("sstable_id"),
          col("key"), col("clustering"), col("column_name"),
          col("kind"), col("timestamp_us"), col("ttl_s"),
          col("local_deletion_time_s"),
          col("is_tombstone"), col("is_expiring"), col("size_bytes"))
        .write.format("sstable-data")
        .option("path", state.toString).option("compressed", "true")
        .mode("append").save()
      (state.toString, markDir(state.toString))
    }

  /** q196: the STEADY-STATE repair loop — what a node actually runs
    * forever: after a full repair marks everything (q174/q184/q192),
    * a fresh flush arrives and the NEXT incremental digest reads
    * EXACTLY the flush (every marked file pruned at planning time, so
    * the verification cost tracks NEW data, not corpus size — the
    * entire point of incremental repair); once its ranges verify, the
    * flush is marked too and the digest goes back to zero. One row per
    * state with the raw incremental event/leaf/digest triple. */
  def incrementalLoop(spark: SparkSession, dir: String): DataFrame = {
    val (flushed, marked) = ensureIncrementalLoop(spark, dir)
    AntiEntropy.incrementalTriple(spark, flushed, "flushed")
      .unionByName(AntiEntropy.incrementalTriple(spark, marked, "marked"))
      .orderBy("state")
  }

  /** q174: both sets through the stats source AND the full production
    * scan — one row per set. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val base = CassandraDataFixture.ensureFiles(spark, dir,
      compressed = true)
    val marked = ensureRepaired(spark, dir)
    def row(tag: String, path: String): DataFrame = {
      val stats = spark.read.format("sstable-stats")
        .option("format", "cassandra").load(path)
        .agg(count(lit(1)).as("sstables"),
          sum(when(col("is_repaired"), 1L).otherwise(0L))
            .as("repaired_sstables"),
          max("repaired_at_ms").as("repaired_at_ms"))
      val events = DataDb.cells(spark, path,
        format = DataDbScan.FormatCassandra,
        // a bare count: the lightest row work of all — fixed split cap
        maxSplitBytes = DataDbScan.LightRowWorkSplit)
        .agg(count(lit(1)).as("events"))
      stats.crossJoin(events).select(lit(tag).as("set_name"),
        col("sstables"), col("repaired_sstables"),
        col("repaired_at_ms"), col("events"))
    }
    row("base", base).unionByName(row("repaired", marked))
      .orderBy("set_name")
  }
}
