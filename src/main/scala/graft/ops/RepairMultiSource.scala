package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.datadb.{CassandraDataFixture, DataDb, DataDbScan}

/** MULTI-SOURCE merge repair (round 15) — the regime the q189 matrix
  * rejects loudly: when replicas diverge UNIFORMLY (every replica
  * missing a sliver of EVERY leaf — the shape rolling partial outages
  * produce), no single replica's leaf digest matches the union, so a
  * per-leaf repair cannot pick one source; it must stream the leaf
  * from EVERY other replica and let the destination's merge assemble
  * the union (Cassandra's streaming model is exactly merge-on-arrival,
  * so multi-source is the general case and single-source the
  * optimization).
  *
  * Source selection per (leaf, target t): the target already matching
  * the union streams NOTHING; otherwise, if some other replica matches
  * the union on that leaf, stream from the LOWEST-indexed such replica
  * alone (q189's minimal rule — it still applies whenever it can);
  * only when NO replica matches does the plan fan out to ALL other
  * replicas. Union-of-all-replicas coverage guarantees convergence:
  * own ∪ both others ⊇ the leaf's full event set.
  *
  * Same scale shape as the matrix: digests are narrow commutative
  * aggregates, the plan is O(leaves × replicas) driver rows, each
  * stream pass scans one source under a leaf filter, and the
  * convergence re-digest is repair's own verification cost. */
object RepairMultiSource {

  val Replicas = 3

  /** Streamed sstable generations: source s → target t writes
    * generation (StreamGenBase + t*Replicas + s). */
  val StreamGenBase = 700L

  private def scanOf(spark: SparkSession, p: String): DataFrame =
    DataDb.cells(spark, p, format = DataDbScan.FormatCassandra)

  private def leafOf(c: org.apache.spark.sql.Column) =
    shiftright(AntiEntropy.token(c), AntiEntropy.TokenLeafShift)

  /** The coordinator's state: per-(leaf, target) source LISTS. */
  final case class Session(paths: Seq[String],
      pre: Seq[Map[Long, (Long, Long)]], uni: Map[Long, (Long, Long)],
      srcsFor: Map[(Long, Int), Seq[Int]], intoDirs: Seq[String])

  private val memo = new SessionMemo[Session]

  def ensureSession(spark: SparkSession, dir: String): Session =
    memo(spark, s"$dir|repairMS")(build(spark, dir))

  private def build(spark: SparkSession, dir: String): Session = {
    val paths = (0 until Replicas).map(r =>
      CassandraDataFixture.ensureUniformReplicaFiles(spark, dir, r.toLong))
    val pre = paths.map(p => RepairMatrix.digestMap(
      RepairMatrix.mergedDigest(spark, Seq(p))))
    val uni = RepairMatrix.digestMap(
      RepairMatrix.mergedDigest(spark, paths))
    val srcsFor = (for {
      leaf <- uni.keys.toSeq
      t <- 0 until Replicas
      if pre(t).get(leaf).map(_._2) != uni.get(leaf).map(_._2)
    } yield {
      val matching = (0 until Replicas).filter(r => r != t &&
        pre(r).get(leaf).map(_._2) == uni.get(leaf).map(_._2))
      val sources =
        if (matching.nonEmpty) Seq(matching.min) // q189's minimal rule
        else (0 until Replicas).filter(_ != t) // the multi-source fanout
      (leaf, t) -> sources
    }).toMap
    val intoDirs = (0 until Replicas).map { t =>
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory(s"graft-repairms-into$t"))
        .toString
      srcsFor.toSeq
        .collect { case ((leaf, `t`), ss) => ss.map(s => (s, leaf)) }
        .flatten.groupBy(_._1).foreach { case (s, pairs) =>
          val leaves = pairs.map(_._2)
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
    Session(paths, pre, uni, srcsFor, intoDirs)
  }

  /** q194: the multi-source repair relation — one row per token leaf:
    * each replica's matched flag, the NUMBER of sources streamed to it
    * (0 = already holds the leaf; 2 = the multi-source fanout), and
    * each replica's post-repair convergence against the union. */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val s = ensureSession(spark, dir)
    val post = (0 until Replicas).map { t =>
      val hasStreams = Option(new java.io.File(s.intoDirs(t)).list())
        .exists(_.nonEmpty)
      RepairMatrix.digestMap(RepairMatrix.mergedDigest(spark,
        Seq(s.paths(t)) ++ (if (hasStreams) Seq(s.intoDirs(t)) else Nil)))
    }
    val rows = s.uni.keys.toSeq.sorted.map { leaf =>
      def dg(m: Map[Long, (Long, Long)]): Option[Long] =
        m.get(leaf).map(_._2)
      val u = dg(s.uni)
      def matched(r: Int): Boolean = dg(s.pre(r)) == u
      def nsrc(r: Int): Long =
        s.srcsFor.get((leaf, r)).map(_.size.toLong).getOrElse(0L)
      (leaf, s.uni(leaf)._1,
        matched(0), matched(1), matched(2),
        nsrc(0), nsrc(1), nsrc(2),
        dg(post(0)) == u, dg(post(1)) == u, dg(post(2)) == u)
    }
    import spark.implicits._
    rows.toDF("leaf", "u_events",
      "r0_matched", "r1_matched", "r2_matched",
      "nsrc_r0", "nsrc_r1", "nsrc_r2",
      "r0_converged", "r1_converged", "r2_converged")
      .orderBy("leaf")
  }
}
