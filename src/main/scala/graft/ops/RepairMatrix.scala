package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** THREE-REPLICA repair with a per-leaf DIRECTION MATRIX (round 15) —
  * the coordination problem `nodetool repair` actually solves: q182
  * converges two replicas, but a real session coordinates N, and for
  * every differing leaf it must pick WHICH replica streams to which.
  *
  *  1. **Diverge**: three real replica sets with LEAF-CORRELATED holes
  *     ([[CassandraDataFixture.ensureMatrixReplicaFiles]]): replica r
  *     misses a sliver of the leaves ≡ r (mod 3), so each leaf is held
  *     COMPLETE by exactly the two replicas not assigned it — the
  *     union of all three is the full corpus.
  *  2. **Detect**: per-replica token-leaf digests of each replica's
  *     MERGED view (identical cells collapsed — Cassandra validates
  *     Merkle trees over the read path's merged data, not raw sstable
  *     rows) diffed against the union digest.
  *  3. **Direction matrix**: for each (leaf, target) where the
  *     target's digest differs from the union, the source is the
  *     LOWEST-indexed replica whose digest MATCHES the union on that
  *     leaf — one stream per needy leaf, never more, and never a
  *     stream to a replica already holding the leaf (the per-leaf
  *     minimal plan; a leaf no single replica holds complete would
  *     need multi-source merge and is rejected loudly — the fixture
  *     proves it cannot arise here).
  *  4. **Stream + converge**: one real sstable per (source → target)
  *     direction carrying the target's needy leaves from the source;
  *     every replica's post-repair view (own files ∪ streamed-in,
  *     merged) re-digests leaf-identical to the union.
  *
  * Scale shape: digests are the W9/W12 narrow commutative aggregates
  * (one scan per replica); the matrix itself is O(leaves × replicas)
  * driver rows — exactly the state a repair coordinator holds; stream
  * passes scan only the source with a leaf filter; convergence
  * re-digests are the same verification cost real repair pays. */
object RepairMatrix {

  val Replicas = 3

  /** Streamed sstable generations: source s → target t writes
    * generation (StreamGenBase + t*Replicas + s). */
  val StreamGenBase = 970L

  /** Logical event fields (the digest's view — no sstable id, no file
    * offsets). */
  private val EvCols = Seq("key", "clustering", "column_name", "kind",
    "timestamp_us", "ttl_s", "local_deletion_time_s", "size_bytes")

  private def scanOf(spark: SparkSession, p: String): DataFrame =
    DataDb.cells(spark, p, format = DataDbScan.FormatCassandra)

  private def leafOf(c: org.apache.spark.sql.Column) =
    shiftright(AntiEntropy.token(c), AntiEntropy.TokenLeafShift)

  /** Token-leaf digest of the MERGED (distinct) view of one or more
    * sstable directories, PlanCache-persisted per (session, dirs). */
  private[ops] def mergedDigest(spark: SparkSession,
      dirs: Seq[String]): DataFrame =
    graft.sources.PlanCache.cached(spark,
      s"tokleafdigest-merged|${dirs.sorted.mkString(",")}")(
      AntiEntropy.tokenLeafDigest(
        dirs.map(d => scanOf(spark, d).select(EvCols.map(col): _*))
          .reduce(_.unionByName(_)).distinct()))

  private[ops] def digestMap(df: DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** The coordinator's state: replica paths, per-leaf digest maps, the
    * direction matrix, and the streamed-in dirs per target. */
  final case class Session(paths: Seq[String],
      pre: Seq[Map[Long, (Long, Long)]], uni: Map[Long, (Long, Long)],
      srcFor: Map[(Long, Int), Int], intoDirs: Seq[String])

  private val memo = new SessionMemo[Session]

  def ensureSession(spark: SparkSession, dir: String): Session =
    memo(spark, s"$dir|repair3")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): Session = {
    val paths = (0 until Replicas).map(r =>
      CassandraDataFixture.ensureMatrixReplicaFiles(spark, dir, r.toLong))
    val pre = paths.map(p => digestMap(mergedDigest(spark, Seq(p))))
    val uni = digestMap(mergedDigest(spark, paths))
    // the direction matrix — O(leaves x replicas) driver rows, the
    // repair coordinator's own state
    val srcFor = (for {
      leaf <- uni.keys.toSeq
      t <- 0 until Replicas
      if pre(t).get(leaf).map(_._2) != uni.get(leaf).map(_._2)
    } yield {
      val s = (0 until Replicas).find(r => r != t &&
        pre(r).get(leaf).map(_._2) == uni.get(leaf).map(_._2))
      require(s.nonEmpty, s"leaf $leaf held complete by NO replica — " +
        "multi-source merge repair required")
      (leaf, t) -> s.get
    }).toMap
    // one real streamed sstable per (source -> target) direction
    val intoDirs = (0 until Replicas).map { t =>
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory(s"graft-repair3-into$t"))
        .toString
      // toSeq first: collecting (source, leaf) pairs straight off the
      // Map would rebuild a Map keyed by source and silently keep ONE
      // leaf per source
      srcFor.toSeq.collect { case ((leaf, `t`), s) => (s, leaf) }
        .groupBy(_._1).foreach { case (s, pairs) =>
          val leaves = pairs.map(_._2).toSeq
          val gen = StreamGenBase + t * Replicas + s
          scanOf(spark, paths(s))
            .where(leafOf(col("key")).isin(leaves: _*))
            .select(
              lit(s"sst-${gen - 1}").as("sstable_id"),
              col("key"), col("clustering"), col("column_name"),
              col("kind"), col("timestamp_us"), col("ttl_s"),
              col("local_deletion_time_s"),
              col("is_tombstone"), col("is_expiring"), col("size_bytes"))
            .write.format("sstable-data")
            .option("path", out).option("compressed", "true")
            .mode("append").save()
        }
      out
    }
    Session(paths, pre, uni, srcFor, intoDirs)
  }

  private val cycleMemo = new SessionMemo[Seq[(String, String)]]

  /** Per replica: (converged-but-unmarked dir, the same set with every
    * Statistics.db stamped repairedAt) — the 3-replica session's
    * closing act (q184's two-replica twin), session-memoized. */
  def ensureCycle(spark: SparkSession, dir: String)
      : Seq[(String, String)] =
    cycleMemo(spark, s"$dir|r3cyc") {
      val sess = ensureSession(spark, dir)
      (0 until Replicas).map { r =>
        val conv = graft.sources.TempDirs.register(
          java.nio.file.Files.createTempDirectory(
            s"graft-repair3-conv$r"))
        def copyAll(from: String): Unit =
          Option(new java.io.File(from).listFiles())
            .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
            .foreach { f =>
              java.nio.file.Files.copy(f.toPath,
                conv.resolve(f.getName))
              ()
            }
        copyAll(sess.paths(r)); copyAll(sess.intoDirs(r))
        (conv.toString, Repair.markDir(conv.toString))
      }
    }

  /** q192: the matrix session's CLOSING act — every replica's
    * converged set (own files ∪ its streamed-in sstables) stamped
    * repairedAt, after which the next incremental digest reads NOTHING
    * on ANY replica: one row per (replica, state) with the raw
    * incremental event/leaf/digest triple collapsing to zero — the
    * q184 cycle generalized to the coordinated N-replica session. */
  def markCycle(spark: SparkSession, dir: String): DataFrame = {
    val cycles = ensureCycle(spark, dir)
    cycles.zipWithIndex.map { case ((conv, marked), r) =>
      AntiEntropy.incrementalTriple(spark, conv, s"r$r-converged")
        .unionByName(
          AntiEntropy.incrementalTriple(spark, marked, s"r$r-marked"))
    }.reduce(_.unionByName(_)).orderBy("state")
  }

  /** q199 (round 16, VERDICT r15 ask #6): PRIMARY-RANGE repair — the
    * `nodetool repair -pr` semantics that keeps an N-node full-cluster
    * repair from doing N× the work: each replica coordinates ONLY the
    * token leaves it is PRIMARY for (leaf mod [[Replicas]] — the ring's
    * first-owner rule on the leaf grid), so a rolling repair across all
    * replicas verifies every leaf exactly once cluster-wide instead of
    * once per replica. Each owner's plan is computed independently over
    * its own leaf slice; the relation is the UNION of the per-owner
    * plans — one row per leaf with its owner, the q189 direction
    * decisions for that leaf, and the number of streams issued. The
    * per-owner plans PARTITION the leaf set (the require), and their
    * union reproduces the full q189 matrix coverage (the oracle's
    * check: same leaves, same sources). */
  def primaryRange(spark: SparkSession, dir: String): DataFrame = {
    val s = ensureSession(spark, dir)
    val perOwner = (0 until Replicas).map { owner =>
      s.uni.keys.toSeq.filter(l =>
        math.floorMod(l, Replicas.toLong) == owner.toLong).map { leaf =>
        def src(t: Int): Long =
          s.srcFor.get((leaf, t)).map(_.toLong).getOrElse(-1L)
        val streams = (0 until Replicas).count(t =>
          s.srcFor.contains((leaf, t))).toLong
        (leaf, owner.toLong, src(0), src(1), src(2), streams)
      }
    }
    // the plans partition the ring: every leaf owned exactly once
    val all = perOwner.flatten
    require(all.map(_._1).distinct.size == s.uni.size &&
      all.size == s.uni.size,
      "per-owner plans do not partition the leaf set")
    import spark.implicits._
    all.sortBy(_._1)
      .toDF("leaf", "owner", "src_for_r0", "src_for_r1", "src_for_r2",
        "streams")
  }

  /** q189: the matrix repair relation — one row per token leaf: each
    * replica's pre-repair merged (events, digest-match) state, the
    * union, the chosen source per target (−1 = already converged), and
    * each replica's post-repair convergence against the union. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val s = ensureSession(spark, dir)
    val post = (0 until Replicas).map { t =>
      val hasStreams = Option(new java.io.File(s.intoDirs(t)).list())
        .exists(_.nonEmpty)
      digestMap(mergedDigest(spark, Seq(s.paths(t)) ++
        (if (hasStreams) Seq(s.intoDirs(t)) else Nil)))
    }
    val rows = s.uni.keys.toSeq.sorted.map { leaf =>
      def ev(m: Map[Long, (Long, Long)]): Long =
        m.get(leaf).map(_._1).getOrElse(0L)
      def dg(m: Map[Long, (Long, Long)]): Option[Long] =
        m.get(leaf).map(_._2)
      val u = dg(s.uni)
      (leaf,
        ev(s.pre(0)), ev(s.pre(1)), ev(s.pre(2)), ev(s.uni),
        s.srcFor.get((leaf, 0)).map(_.toLong).getOrElse(-1L),
        s.srcFor.get((leaf, 1)).map(_.toLong).getOrElse(-1L),
        s.srcFor.get((leaf, 2)).map(_.toLong).getOrElse(-1L),
        dg(post(0)) == u, dg(post(1)) == u, dg(post(2)) == u)
    }
    import spark.implicits._
    rows.toDF("leaf", "r0_events", "r1_events", "r2_events", "u_events",
      "src_for_r0", "src_for_r1", "src_for_r2",
      "r0_converged", "r1_converged", "r2_converged")
      .orderBy("leaf")
  }
}
