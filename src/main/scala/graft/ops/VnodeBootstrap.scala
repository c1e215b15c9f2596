package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{DataDb, DataDbScan}

/** Vnode BOOTSTRAP — the range-SPLITTING half of the pending-ranges
  * calculus (round 17; [[VnodeRing]]'s decommission exercised the
  * MERGING half): a new node joins the 4×4-vnode ring with 4 tokens of
  * its own, each landing MID-RANGE — every one of its tokens splits an
  * existing range in two, the defining vnode-join effect (a
  * single-token join splits one range; a 256-vnode join splits 256,
  * scattered everywhere).
  *
  *  - **Resolution.** Range accounting moves to HALF-sixteenths
  *    (token div 2^55, 32 ranges): the 16 original tokens sit at the
  *    tops of the odd half-slots (token s tops sixteenth s = half-slot
  *    2s+1); the joiner's 4 tokens top the even half-slots {4, 12, 20,
  *    28} — mid-sixteenth 2, 6, 10, 14, whose owners are 1, 3, 0, 2:
  *    ONE split inside each existing node's territory.
  *  - **Calculus (q241).** Per half-range: owner = first occupied slot
  *    clockwise (the ownership rule at any token set), RF=2 replicas
  *    via the distinct-owner walk — before (16 tokens) vs after (20
  *    tokens), and the pending transfer (which ranges the joiner must
  *    receive, from whom). The oracle re-derives every column
  *    relationally from the two token VALUES lists.
  *  - **Execute (q242).** The joiner streams each pending range from
  *    that range's pre-join PRIMARY (Cassandra's pick-one-replica
  *    bootstrap plan), one real received sstable per source node,
  *    re-scanned and digest-verified range by range against the
  *    corpus. Old nodes keep their files (cleanup is a separate verb —
  *    [[Cleanup]] models it); the report carries each range's
  *    post-join cleanup debt (retained holders no longer replicas).
  *
  * Scale shape: identical to the rest of the family — the occupied-slot
  * walk is O(#tokens²) driver arithmetic, streams are sstable_id-pruned
  * scans of the pre-join files through the sink, digests narrow. */
object VnodeBootstrap {

  private val memo = new SessionMemo[String]
  private val planMemo =
    new SessionMemo[Seq[(Long, Long, Set[Long], Set[Long], String)]]

  /** The joining node's id (the ring had nodes 0–3). */
  val Joiner = 4

  /** Half-sixteenth resolution: range of a token = token div 2^55. */
  val HalfShift: Int = VnodeRing.SlotShift - 1

  /** Half-slot count. */
  val Slots: Int = VnodeRing.Slots * 2

  /** Joiner tokens: tops of these half-slots (mid-sixteenth splits). */
  val JoinerSlots: Set[Int] = Set(4, 12, 20, 28)

  /** Received generations: the stream from old node n writes
    * sst-([[OutGenBase]]+n). */
  val OutGenBase = 3400L

  private val M = 1000003L

  /** Owner of occupied half-slot o — old token s tops half-slot 2s+1;
    * joiner tokens top [[JoinerSlots]]. */
  private def ownerOf(slot: Int, withJoiner: Boolean): Option[Int] =
    if (slot % 2 == 1) Some(VnodeRing.Owners(slot / 2))
    else if (withJoiner && JoinerSlots(slot)) Some(Joiner)
    else None

  /** RF=2 replica set of half-range h (primary first) — the ONE
    * production walk ([[VnodeRing.replicaWalk]], round 18) over the
    * before/after token sets. */
  def replicas(h: Int, withJoiner: Boolean): Seq[Int] =
    VnodeRing.replicaWalk(Slots, sl => ownerOf(sl, withJoiner), h,
      VnodeRing.Rf)

  /** The half-ranges the joiner must receive, each with its stream
    * source = the range's PRE-JOIN primary. */
  def pending: Seq[(Int, Int)] =
    (0 until Slots).flatMap { h =>
      if (replicas(h, withJoiner = true).contains(Joiner))
        Some(h -> replicas(h, withJoiner = false).head)
      else None
    }

  private def eventHash = graft.functions.PortableHash.h60(concat_ws(":",
    col("key"), col("clustering"), col("column_name"), col("kind"),
    col("timestamp_us"), col("ttl_s"), col("local_deletion_time_s"),
    col("size_bytes"))) % M

  private def withHalf(df: DataFrame): DataFrame =
    df.withColumn("half_range",
      shiftright(AntiEntropy.token(col("key")), HalfShift))

  /** Stream the joiner's pending ranges from their pre-join primaries'
    * REAL vnode-load files; one received sstable per source node under
    * the returned dir (session-memoized). */
  def ensureBootstrapped(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|vnodeboot") {
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-vnodeboot")).toString
      import spark.implicits._
      val plan = pending.map { case (h, src) =>
        (src.toLong, h.toLong) }.toDF("node", "half_range")
      val sources = pending.map(_._2).distinct.map(n =>
        VnodeRing.loadFileId(n.toLong))
      withHalf(DataDb.cells(spark, VnodeRing.ensureLoaded(spark, dir),
          format = DataDbScan.FormatCassandra)
          .where(col("sstable_id").isin(sources: _*))
          .withColumn("node",
            regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
              .cast("long") - 1L - VnodeRing.LoadGenBase))
        .join(broadcast(plan), Seq("node", "half_range"))
        .select(
          (concat(lit("sst-"), (lit(OutGenBase) + col("node"))
            .cast("string")).as("sstable_id") +:
            Seq("key", "clustering", "column_name", "kind",
              "timestamp_us", "ttl_s", "local_deletion_time_s",
              "is_tombstone", "is_expiring", "size_bytes").map(col)): _*)
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }

  /** q241: the range-splitting calculus, one row per half-range —
    * before/after replica pairs, whether the joiner gains the range,
    * its stream source (-1 = none), and the post-join cleanup debt
    * (pre-join replicas no longer in the replica set). The engine's
    * Scala walk vs the oracle's SQL walk over the token VALUES. */
  def splitReport(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until Slots).map { h =>
      val before = replicas(h, withJoiner = false)
      val after = replicas(h, withJoiner = true)
      val gains = after.contains(Joiner)
      (h.toLong, before.head.toLong, before(1).toLong,
        after.head.toLong, after(1).toLong, gains,
        if (gains) before.head.toLong else -1L,
        before.count(n => !after.contains(n)).toLong)
    }.toDF("half_range", "old_primary", "old_second",
        "new_primary", "new_second", "joiner_gains", "stream_source",
        "cleanup_debt")
      .orderBy("half_range")
  }

  // --------------------------------------------------------------------
  // zero-copy disposition in the PRODUCTION bootstrap stream (round 18,
  // VERDICT r17 Next #2): [[ZeroCopyStream]] proved the covered-file
  // fast path on a purpose-staged corpus; this wires the same
  // CASSANDRA-14556 rule into the vnode bootstrap itself. Source nodes
  // keep RANGE-SLICED holdings (the shape per-node leveled compaction
  // maintains — one sstable per owned sixteenth); the joiner's transfer
  // request to each source is its pending half-ranges, so a sixteenth
  // whose BOTH halves are pending from one source fully covers that
  // source's file (sixteenths 1/5/9/13 → the components hard-link,
  // zero rows touched) while a half-pending sixteenth rewrites only its
  // requested half through the sink (2/6/10/14). Coverage is decided
  // off the Summary.db sidecars alone ([[SummaryCoverage]]).

  /** Sliced pre-join holdings: node n's sixteenth-s file is
    * sst-([[SliceGenBase]] + 16·n + s). */
  val SliceGenBase = 3500L

  /** Rewritten-remainder streams: the partial rewrite from source node
    * n lands as sst-([[ZcRewriteGenBase]]+n). */
  val ZcRewriteGenBase = 3600L

  /** Generation code of source node n's sixteenth-s sliced file. */
  def sliceGen(node: Long, sixteenth: Long): Long =
    SliceGenBase + 16L * node + sixteenth

  /** Raw scan id of a sliced holding (PUSHABLE prefilter). */
  def sliceFileId(node: Long, sixteenth: Long): String =
    s"nb-${sliceGen(node, sixteenth) + 1L}-big"

  private val OutCols = Seq("key", "clustering", "column_name", "kind",
    "timestamp_us", "ttl_s", "local_deletion_time_s",
    "is_tombstone", "is_expiring", "size_bytes")

  /** Pending half-ranges per source node. */
  private def pendingBySource: Map[Long, Set[Long]] =
    pending.groupBy(_._2).map { case (src, hs) =>
      src.toLong -> hs.map(_._1.toLong).toSet
    }

  /** Restage each pre-join node's holdings RANGE-SLICED — one real
    * sstable per (node, owned sixteenth), the layout leveled compaction
    * maintains on every node and entire-sstable streaming needs
    * (session-memoized). */
  def ensureSlicedHoldings(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|vnodeslice") {
      val loaded = VnodeRing.ensureLoaded(spark, dir)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-vnodeslice")).toString
      val node = regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
        .cast("long") - 1L - VnodeRing.LoadGenBase
      DataDb.cells(spark, loaded, format = DataDbScan.FormatCassandra)
        .withColumn("sixteenth",
          shiftright(AntiEntropy.token(col("key")), VnodeRing.SlotShift))
        .select((concat(lit("sst-"),
            (lit(SliceGenBase) + node * 16L + col("sixteenth"))
              .cast("string")).as("sstable_id") +: OutCols.map(col)): _*)
        .write.format("sstable-data")
        .option("path", out).option("compressed", "true")
        .mode("append").save()
      out
    }

  /** The per-file coverage plan, one row per sliced source file:
    * (node, sixteenth, occupied half-ranges, requested half-ranges,
    * transport). Occupancy comes from the Summary.db sidecars alone;
    * the transfer request to a source is its pending half-ranges; a
    * file links exactly when every half it occupies is requested.
    * O(#files) driver rows. Session-memoized (round 19,
    * MinorCompaction.tierTable's discipline): the plan is a pure
    * function of the immutable sliced holdings, consulted by the
    * bootstrap build AND the q243/q244 reports — re-deriving it per
    * call re-ran the Index.db boundary-confirm job on every bench
    * window. */
  def zeroCopyPlan(spark: SparkSession, dir: String)
      : Seq[(Long, Long, Set[Long], Set[Long], String)] =
    planMemo(spark, s"$dir|vnodezcplan")(computeZeroCopyPlan(spark, dir))

  private def computeZeroCopyPlan(spark: SparkSession, dir: String)
      : Seq[(Long, Long, Set[Long], Set[Long], String)] = {
    val sliced = ensureSlicedHoldings(spark, dir)
    val bySrc = pendingBySource
    val sampled = SummaryCoverage.occupiedRanges(spark, sliced, HalfShift)
    def requestedOf(generation: Long): Set[Long] = {
      val code = generation - 1L - SliceGenBase
      bySrc.getOrElse(code / 16L, Set.empty[Long])
        .filter(_ / 2L == code % 16L)
    }
    // BOUNDARY CONFIRM (round 19, ADVICE r18): "skipped" is
    // requested-based (the ring walk, not sampling) and "rewritten" is
    // final under more occupancy, but committing to "linked" hard-links
    // the WHOLE file to the joiner — so every linked candidate's
    // occupancy is re-derived from its own Index.db (pruned at
    // planning) first. Sampling then only errs toward "rewritten",
    // which rewrites exactly the requested halves: safe.
    val candidates = sampled.collect {
      case (g, occ) if requestedOf(g).nonEmpty &&
        occ.subsetOf(requestedOf(g)) => g
    }.toSet
    val confirmed =
      SummaryCoverage.confirmOccupied(spark, sliced, HalfShift, candidates)
    sampled.toSeq
      .map { case (generation, sampledOcc) =>
        val code = generation - 1L - SliceGenBase
        val node = code / 16L
        val sixteenth = code % 16L
        val requested = requestedOf(generation)
        val occupied = confirmed.getOrElse(generation, sampledOcc)
        val transport =
          if (requested.isEmpty) "skipped"
          else if (occupied.subsetOf(requested)) "linked"
          else "rewritten"
        (node, sixteenth, occupied, requested, transport)
      }.sortBy(t => (t._1, t._2))
  }

  /** Execute the bootstrap with the zero-copy disposition
    * (session-memoized): covered sliced files hard-link every component
    * into the joiner's dir (O(#components) metadata syscalls, no row
    * touched); partial files rewrite only their requested halves
    * through the real sink, one received sstable per source node. */
  def ensureZeroCopyBootstrapped(spark: SparkSession, dir: String): String =
    memo(spark, s"$dir|vnodezc") {
      val sliced = ensureSlicedHoldings(spark, dir)
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory("graft-vnodezcrecv"))
      val plan = zeroCopyPlan(spark, dir)
      val slicedDir = new java.io.File(sliced)
      plan.collect { case (n, s, _, _, "linked") => (n, s) }
        .foreach { case (n, s) =>
          Option(slicedDir.listFiles()).getOrElse(Array.empty)
            .filter(f => f.isFile &&
              f.getName.startsWith(sliceFileId(n, s)))
            .foreach(f => java.nio.file.Files.createLink(
              out.resolve(f.getName), f.toPath))
        }
      val partial = plan.collect {
        case (n, s, _, requested, "rewritten") => (n, s, requested)
      }
      if (partial.nonEmpty) {
        import spark.implicits._
        val wanted = partial.flatMap { case (n, s, requested) =>
          requested.toSeq.map(h => (sliceFileId(n, s), h, n))
        }.toDF("sstable_id", "half_range", "node")
        withHalf(DataDb.cells(spark, sliced,
            format = DataDbScan.FormatCassandra)
          .where(col("sstable_id").isin(
            partial.map { case (n, s, _) => sliceFileId(n, s) }: _*)))
          .join(broadcast(wanted), Seq("sstable_id", "half_range"))
          .select((concat(lit("sst-"),
              (lit(ZcRewriteGenBase) + col("node")).cast("string"))
              .as("sstable_id") +: OutCols.map(col)): _*)
          .write.format("sstable-data")
          .option("path", out.toString).option("compressed", "true")
          .mode("append").save()
      }
      out.toString
    }

  /** q244: the coverage plan itself, one row per sliced source file —
    * occupied vs requested half-range counts and the resulting
    * transport. The engine derives occupancy from the Summary.db
    * sidecars and the request from its Scala ring walk; the oracle
    * re-derives occupancy from the corpus and the request from its SQL
    * walk — an undersampled summary or a walk divergence breaks the
    * hash. */
  def zeroCopyPlanReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // requested_halves counts requested ∩ OCCUPIED halves (ADVICE r18):
    // the oracle's vzcover joins its corpus-derived occupancy against
    // the request, so a pending half the file doesn't hold must not
    // inflate the engine's count — the two sides share one definition
    zeroCopyPlan(spark, dir).map { case (n, s, occ, req, transport) =>
      (n, s, occ.size.toLong, req.intersect(occ).size.toLong, transport)
    }.toDF("node", "sixteenth", "occupied_halves", "requested_halves",
        "transport")
      .orderBy("node", "sixteenth")
  }

  /** q245 (round 19): the coverage-CONFIRM audit — per sliced source
    * file, the sample-grid occupancy ([[SummaryCoverage.occupiedRanges]],
    * Summary.db) against the confirmed occupancy
    * ([[SummaryCoverage.confirmOccupied]], Index.db), and whether the
    * grid was complete. The oracle replays the SAMPLING RULE itself —
    * every MinIndexInterval-th partition in key order plus the header's
    * first/last keys — relationally from the corpus, so a summary codec
    * that sampled different partitions, or a confirm that read the
    * wrong files, breaks the hash. O(#files) driver rows. */
  def coverageConfirmReport(spark: SparkSession, dir: String): DataFrame = {
    val sliced = ensureSlicedHoldings(spark, dir)
    import spark.implicits._
    val sampled = SummaryCoverage.occupiedRanges(spark, sliced, HalfShift)
    val confirmed = SummaryCoverage.confirmOccupied(
      spark, sliced, HalfShift, sampled.keySet)
    sampled.toSeq.map { case (g, sOcc) =>
      val code = g - 1L - SliceGenBase
      val cOcc = confirmed.getOrElse(g, sOcc)
      (code / 16L, code % 16L, sOcc.size.toLong, cOcc.size.toLong,
        sOcc == cOcc)
    }.toDF("node", "sixteenth", "sampled_halves", "occupied_halves",
        "grid_complete")
      .orderBy("node", "sixteenth")
  }

  /** q243: the executed ZERO-COPY bootstrap — one row per pending
    * half-range: its stream source, the transport its bytes took
    * (linked = arrived inside a whole hard-linked sstable, rewritten =
    * re-serialized through the sink), events + digest off the joiner's
    * real received files, corpus equality. Convergence must be
    * transport-blind: digests equal q242's sink-only bootstrap. */
  def zeroCopyRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = graft.sources.datadb.CassandraDataFixture
      .ensureUcsFiles(spark, dir)
    import spark.implicits._
    val corpus = withHalf(DataDb.cells(spark, inPath,
        format = DataDbScan.FormatCassandra))
      .groupBy("half_range")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
    val fileTransport = zeroCopyPlan(spark, dir).map {
      case (n, s, _, _, transport) => (n, s) -> transport
    }.toMap
    val plan = pending.map { case (h, src) =>
      // a pending half whose sixteenth holds no corpus rows has no
      // sliced file (hence no summary entry): diagnosable, not a bare
      // NoSuchElementException (ADVICE r18)
      val transport = fileTransport.getOrElse((src.toLong, h.toLong / 2L),
        throw new IllegalStateException(s"zero-copy plan has no sliced " +
          s"file for source node $src sixteenth ${h.toLong / 2L} " +
          s"(pending half $h): empty sixteenth in the corpus?"))
      (h.toLong, src.toLong, transport)
    }.toDF("half_range", "stream_source", "transport")
    val received = withHalf(DataDb.cells(spark,
        ensureZeroCopyBootstrapped(spark, dir),
        format = DataDbScan.FormatCassandra))
      .groupBy("half_range")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    received
      .join(broadcast(plan), Seq("half_range"))
      .join(corpus, Seq("half_range"))
      .select(col("half_range"), col("stream_source"), col("transport"),
        col("events"), col("digest"), col("corpus_events"),
        col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"))
      .orderBy("half_range")
  }

  /** q242: the executed bootstrap — one row per received half-range:
    * the stream source, events + digest off the joiner's real received
    * files, corpus equality. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val inPath = graft.sources.datadb.CassandraDataFixture
      .ensureUcsFiles(spark, dir)
    import spark.implicits._
    val corpus = withHalf(DataDb.cells(spark, inPath,
        format = DataDbScan.FormatCassandra))
      .groupBy("half_range")
      .agg(count(lit(1)).as("corpus_events"),
        sum(eventHash).as("corpus_digest"))
    val plan = pending.map { case (h, src) =>
      (h.toLong, src.toLong) }.toDF("half_range", "stream_source")
    val received = withHalf(DataDb.cells(spark,
        ensureBootstrapped(spark, dir),
        format = DataDbScan.FormatCassandra))
      .groupBy("half_range")
      .agg(count(lit(1)).as("events"), sum(eventHash).as("digest"))
    received
      .join(broadcast(plan), Seq("half_range"))
      .join(corpus, Seq("half_range"))
      .select(col("half_range"), col("stream_source"), col("events"),
        col("digest"), col("corpus_events"), col("corpus_digest"),
        (col("events") === col("corpus_events") &&
          col("digest") === col("corpus_digest")).as("verified"))
      .orderBy("half_range")
  }
}
