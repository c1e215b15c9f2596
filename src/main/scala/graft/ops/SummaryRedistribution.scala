package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Fixtures, SessionMemo}
import graft.sources.datadb.{CassandraDataFixture, CassandraDataFormat}
import graft.sources.summarydb.SummaryDbFormat

/** Index-summary REDISTRIBUTION (round 19) — Cassandra's
  * `IndexSummaryManager` memory-pressure behavior (CASSANDRA-5519): when
  * resident summaries exceed `index_summary_capacity`, cold sstables'
  * Summary.db components are DOWNSAMPLED in place — the summary is the
  * only component rewritten, everything else is untouched (the reference
  * loads whatever summary the node last saved when it opens readers,
  * ColumnFamilyBackend.java:92-132).
  *
  * This engine's level-k rule keeps every 2^k-th summary entry (entry 0
  * always kept; the header's first/last keys unchanged), halving the
  * resident entry count per level while the point-read path degrades
  * GRACEFULLY rather than wrongly: the summary floor lands further left
  * and the bounded Index.db scan window grows to 2^k × min_interval
  * partitions — [[PointGet.indexLookup]] walks until the probe is
  * passed, so results are level-invariant by construction (and q246
  * pins exactly that: identical probe checksums at every level).
  *
  * Scale shape: the rewrite is O(summary entries) per file plus
  * O(#components) hard links — the zero-copy discipline — and the probe
  * verification stays the distributed narrow map of q114. At fleet
  * scale this is the per-node redistribution task; nothing here reads
  * Data.db or Index.db to downsample. */
object SummaryRedistribution {

  private val memo = new SessionMemo[String]

  /** Levels under the oracle: 0 (identity anchor), 1 and 2 (halve,
    * quarter the resident entries). */
  val Levels: Seq[Int] = Seq(0, 1, 2)

  /** Downsample one parsed summary to level k: keep every 2^k-th entry,
    * halve the recorded samplingLevel per level (floor 1). */
  private[graft] def downsample(s: SummaryDbFormat.Summary,
      level: Int): SummaryDbFormat.Summary = {
    val step = 1 << level
    s.copy(
      samplingLevel = math.max(1, s.samplingLevel >> level),
      entries = s.entries.zipWithIndex.collect {
        case (e, j) if j % step == 0 => e
      })
  }

  /** Restage the compressed real-format set with every Summary.db
    * downsampled to `level` and every other component HARD-LINKED
    * (session-memoized). Level 0 also restages (identity rewrite) so
    * the probe run exercises the same path at every level. */
  def ensureDownsampled(spark: SparkSession, dir: String,
      level: Int): String =
    memo(spark, s"$dir|sumredist$level") {
      val src = java.nio.file.Paths.get(
        CassandraDataFixture.ensureFiles(spark, dir, compressed = true))
      val out = graft.sources.TempDirs.register(
        java.nio.file.Files.createTempDirectory(s"graft-sumredist$level"))
      val listing = java.nio.file.Files.list(src)
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala.filter(p =>
          java.nio.file.Files.isRegularFile(p)).foreach { f =>
          val name = f.getFileName.toString
          if (name.endsWith(SummaryDbFormat.Suffix)) {
            val s = SummaryDbFormat.parse(new DataInputStream(
              new ByteArrayInputStream(
                java.nio.file.Files.readAllBytes(f))))
            val bos = new ByteArrayOutputStream()
            val o = new DataOutputStream(bos)
            SummaryDbFormat.write(o, downsample(s, level))
            o.flush()
            java.nio.file.Files.write(out.resolve(name), bos.toByteArray)
            ()
          } else {
            java.nio.file.Files.createLink(out.resolve(name), f)
            ()
          }
        }
      } finally listing.close()
      out.toString
    }

  /** Total summary entries across the set's files under `path`. */
  private def entryTotal(path: String): Long = {
    val dir = java.nio.file.Paths.get(path)
    val listing = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .filter(_.getFileName.toString.endsWith(SummaryDbFormat.Suffix))
        .map { f =>
          SummaryDbFormat.parse(new DataInputStream(
            new ByteArrayInputStream(
              java.nio.file.Files.readAllBytes(f))))
            .entries.length.toLong
        }.sum
    } finally listing.close()
  }

  /** Distributed PRESENT-probe point-get over the files at `path`
    * (the q114 access path: bloom → summary floor → bounded index scan →
    * single-partition decode), aggregated to one checksum row:
    * (probed, found_sstables, events, value_sum, ts_sum). */
  private[graft] def probeAggregate(spark: SparkSession, dir: String,
      path: String): (Long, Long, Long, Long, Long) =
    probeAggregates(spark, dir, Seq(0 -> path))(0)

  /** The multi-level fusion of [[probeAggregate]] (round 19, guide
    * §1.2): ONE distributed job probes every level's file set — each
    * task emits a tuple per (level, probe) against its level's refs
    * (cache keyed by (level, base); the probe work per tuple is
    * unchanged) and a 3-row groupBy collapses them — instead of one
    * job + distinct exchange + collect barrier PER level. */
  private[graft] def probeAggregates(spark: SparkSession, dir: String,
      paths: Seq[(Int, String)]): Map[Int, (Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    // range-sorted probes (the q114 pattern): each task walks a
    // CONTIGUOUS key range, so consecutive probes land in the same
    // Data.db chunk and the task-cached cursor decompresses each chunk
    // once instead of once per probe; the aggregate below is
    // order-insensitive, the sort exists purely for I/O locality
    val present = Fixtures.liPscan(spark, dir).select(col("key"))
      .where(col("key") % 7 === 0 && col("key") > 0).distinct()
      .orderBy("key")
      .as[Long]
    val levelPaths = paths.toArray
    present.mapPartitions { it =>
      val levels = levelPaths.map { case (k, p) =>
        val dirPath = java.nio.file.Paths.get(p)
        val bases = {
          val s = java.nio.file.Files.list(dirPath)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(_.getFileName.toString)
              .filter(_.endsWith(CassandraDataFormat.Suffix))
              .map(_.stripSuffix(CassandraDataFormat.Suffix)).toArray.sorted
          } finally s.close()
        }
        (k, dirPath, bases)
      }
      val cache = scala.collection.mutable
        .Map.empty[(Int, String), PointGet.SstableRefs]
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ =>
          cache.values.foreach(r =>
            try r.raf.close() catch { case _: Throwable => () })))
      it.flatMap { probe =>
        val kb = java.nio.ByteBuffer.allocate(8).putLong(probe).array()
        levels.iterator.map { case (k, dirPath, bases) =>
          var found = 0L; var events = 0L; var valueSum = 0L; var tsSum = 0L
          bases.foreach { base =>
            val r = cache.getOrElseUpdate((k, base),
              PointGet.loadRefs(dirPath, base))
            if (r.bloom.mightContain(kb))
              PointGet.indexLookup(r, probe).foreach { case (pos, next) =>
                val (e, v, t) = PointGet.readPartition(r, pos, next)
                found += 1; events += e; valueSum += v; tsSum += t
              }
          }
          (k, 1L, found, events, valueSum, tsSum)
        }
      }
    }.toDF("level", "probed", "found_sstables", "events", "value_sum",
        "ts_sum")
      .groupBy("level")
      .agg(sum("probed").as("p"), sum("found_sstables").as("f"),
        sum("events").as("e"), sum("value_sum").as("v"),
        sum("ts_sum").as("t"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toMap
  }

  /** q246: one row per downsampling level — resident entry counts
    * before/after and the FULL present-probe checksum through the real
    * downsampled files. The oracle derives entry counts from the corpus
    * (entries = ceil(partitions/interval), after = ceil(entries/2^k))
    * and the probe checksums relationally; any level-dependent
    * difference in what the read path RETURNS would break the hash. */
  def report(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val basePath =
      CassandraDataFixture.ensureFiles(spark, dir, compressed = true)
    val before = entryTotal(basePath)
    val paths = Levels.map(k => k -> ensureDownsampled(spark, dir, k))
    val probes = probeAggregates(spark, dir, paths)
    paths.map { case (k, path) =>
      val after = entryTotal(path)
      val (probed, found, events, valueSum, tsSum) = probes(k)
      (k.toLong, (SummaryDbFormat.BaseSamplingLevel >> k).toLong,
        before, after, probed, found, events, valueSum, tsSum)
    }.toDF("level", "sampling_level", "entries_before", "entries_after",
        "probed", "found_sstables", "events", "value_sum", "ts_sum")
      .orderBy("level")
  }
}
