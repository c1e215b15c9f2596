package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache of shared derived DataFrames.
  *
  * The reference computes every report section of a command from ONE
  * streaming pass (ColumnFamilyStatisticsCollector.java:121-141); the Spark
  * analog is persisting the shared derived scan so the 15+ report queries
  * reuse it instead of re-deriving (SURVEY §4: "all reports per table are
  * derivable from ≤ 2 cached scans"). Entries are keyed per SparkSession,
  * so driver-run Verify/Bench sessions each materialize once.
  *
  * Keying, the stopped-session sweep and the per-key build latch are
  * [[SessionMemo]]'s.
  *
  * MEMORY_AND_DISK: derived views are orders of magnitude smaller than the
  * raw input (aggregated per (sstable, partition)), but at 100 TB inputs
  * even those spill — the disk tier keeps the plan valid at any scale.
  */
object PlanCache {
  private val memo = new SessionMemo[DataFrame]

  /** Unpersist and drop THIS session's entries whose derived key
    * contains `substring`; returns how many were dropped. The bench's
    * scale probes use this to make a timed window measure the
    * data-proportional REBUILD of a cached derived relation instead of
    * a 64-row cache read (round 16, VERDICT r15 ask #2: the repair
    * family's sf1 ratio was a warm-cache artifact). */
  def invalidateMatching(spark: SparkSession, substring: String): Int = {
    val dropped = memo.dropWhere(spark)(_.contains(substring))
    dropped.foreach(_.unpersist())
    dropped.size
  }

  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo(spark, key)(build.persist(StorageLevel.MEMORY_AND_DISK))
}
