package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SessionMemo
import graft.sources.statsdb.CassandraStatsFormat

/** `sstableofflinerelevel`, executed end to end (round 16) — the
  * Cassandra recovery tool that rebuilds a leveled hierarchy from a
  * flat (all-L0) mess, e.g. after a bulk load or a levelreset (q180):
  * without it every sstable would re-enter LCS through L0 and the
  * whole table would recompact. The tool assigns levels OFFLINE from
  * metadata alone:
  *
  *  - sstables sort by first key (id tiebreak) and FIRST-FIT into
  *    RUNS: each goes to the lowest-numbered run whose last key is
  *    below its first key, else opens a new run — so every run is a
  *    non-overlapping key chain (the LCS level invariant), and the
  *    pass is the same repeated-sweep extraction the real tool runs
  *    (first-fit over a start-sorted list extracts exactly the greedy
  *    sweeps, in order);
  *  - runs become LEVELS ordered by modeled volume ascending (ties by
  *    run index): the fullest run lands deepest, matching LCS's
  *    geometric budgets (q185's ladder) where deep levels hold the
  *    most data.
  *
  * Executed, not simulated: every Statistics.db is rewritten with its
  * new level (the q180 metadata-only mold — serialization header
  * carried verbatim, all other components byte-identical), and the
  * q204 relation re-reads the levels from the REWRITTEN sidecars and
  * re-checks the within-level disjointness off them.
  *
  * Scale shape: O(#files) sidecar reads + one narrow pruned aggregate
  * for the volumes; the assignment is O(#files · #runs) driver work —
  * the same class as every compaction planner here. */
object OfflineRelevel {

  /** One sstable's relevel decision. */
  final case class Assign(sstableId: String, firstKey: Long, lastKey: Long,
      modelBytes: Long, run: Int, level: Int)

  /** First-fit runs + volume-ranked levels off (id, firstKey, lastKey,
    * modelBytes) metadata — the pure planning function the oracle
    * replays. */
  def plan(metas: Seq[(String, Long, Long, Long)]): Seq[Assign] = {
    val ordered = metas.sortBy { case (id, fk, _, _) => (fk, id) }
    val lasts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val runs = ordered.map { case (id, fk, lk, bytes) =>
      val j = lasts.indexWhere(_ < fk)
      val run =
        if (j >= 0) { lasts(j) = lk; j + 1 }
        else { lasts += lk; lasts.length }
      (id, fk, lk, bytes, run)
    }
    val runBytes = runs.groupBy(_._5).view
      .mapValues(_.map(_._4).sum).toMap
    val levelOf = runBytes.toSeq
      .sortBy { case (run, bytes) => (bytes, run) }
      .zipWithIndex.map { case ((run, _), i) => run -> (i + 1) }.toMap
    runs.map { case (id, fk, lk, bytes, run) =>
      Assign(id, fk, lk, bytes, run, levelOf(run))
    }.sortBy(_.sstableId)
  }

  private val memo = new SessionMemo[(String, Seq[Assign])]

  /** Relevel the LEVEL-RESET leveled set: plan off its sidecars + one
    * volume aggregate, rewrite every Statistics.db with the new level;
    * returns (releveled dir, the plan). Session-memoized. */
  def ensureReleveled(spark: SparkSession, dir: String)
      : (String, Seq[Assign]) =
    memo(spark, s"$dir|relevel")(build(spark, dir))

  private def build(spark: SparkSession, dir: String)
      : (String, Seq[Assign]) = {
    val inPath = LevelReset.ensureReset(spark, dir)
    val ranges = ExpiredBlockers.metadata(inPath)
      .map(m => m.sstableId -> (m.firstKey, m.lastKey)).toMap
    val bytesOf = graft.sources.datadb.DataDb.cells(spark, inPath,
        format = graft.sources.datadb.DataDbScan.FormatCassandra)
      .withColumn("sstable_id", concat(lit("sst-"),
        (regexp_extract(col("sstable_id"), "nb-(\\d+)-big", 1)
          .cast("long") - 1L).cast("string")))
      .groupBy("sstable_id")
      .agg(sum(lit(Compaction.EventOverheadBytes) + col("size_bytes"))
        .as("bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val assigns = plan(ranges.toSeq.map { case (id, (fk, lk)) =>
      (id, fk, lk, bytesOf(id))
    })
    val out = graft.sources.TempDirs.register(
      java.nio.file.Files.createTempDirectory("graft-relevel"))
    val levelFor = assigns.map(a =>
      (s"nb-${a.sstableId.stripPrefix("sst-").toLong + 1}-big",
        a.level)).toMap
    Option(new java.io.File(inPath).listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
      .foreach { f =>
        val dest = out.resolve(f.getName)
        if (f.getName.endsWith(CassandraStatsFormat.Suffix)) {
          val base = f.getName.stripSuffix(CassandraStatsFormat.Suffix)
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val parsed = CassandraStatsFormat.parse(bytes)
          val header = CassandraStatsFormat.componentBytes(bytes,
            CassandraStatsFormat.TypeHeader)
          val o = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(dest.toFile)))
          try CassandraStatsFormat.write(o,
            parsed.copy(stats =
              parsed.stats.copy(level = levelFor(base))), Some(header))
          finally o.close()
        } else {
          java.nio.file.Files.copy(f.toPath, dest)
          ()
        }
      }
    (out.toString, assigns)
  }

  /** q204: the relevel relation — one row per sstable: its range and
    * modeled volume, the first-fit run, the volume-ranked level, the
    * level RE-READ from the rewritten Statistics.db, and the number of
    * same-level range overlaps re-checked off the rewritten sidecars
    * (the LCS invariant the tool exists to restore — always 0). */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val (outPath, assigns) = ensureReleveled(spark, dir)
    val reread = ExpiredBlockers.metadata(outPath).map { m =>
      val stats = CassandraStatsFormat.parse(
        java.nio.file.Files.readAllBytes(new java.io.File(outPath,
          s"nb-${m.sstableId.stripPrefix("sst-").toLong + 1}-big" +
            CassandraStatsFormat.Suffix).toPath)).stats
      (m.sstableId, stats.level, m.firstKey, m.lastKey)
    }
    val byId = reread.map(r => r._1 -> r).toMap
    val rows = assigns.map { a =>
      val (_, lvlReread, fk, lk) = byId(a.sstableId)
      val overlaps = reread.count { case (oid, olvl, ofk, olk) =>
        oid != a.sstableId && olvl == lvlReread &&
          ofk <= lk && olk >= fk
      }.toLong
      (a.sstableId, a.firstKey, a.lastKey, a.modelBytes,
        a.run.toLong, a.level.toLong, lvlReread.toLong, overlaps)
    }
    import spark.implicits._
    rows.toDF("sstable_id", "first_key", "last_key", "model_bytes",
      "run", "lvl", "lvl_reread", "level_overlaps")
      .orderBy("sstable_id")
  }
}
