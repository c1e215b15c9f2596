package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.ops.RepairStream

/** q182's 128-bit event id: the second half must not be a function of
  * the first. xxhash64 folds its inputs left to right, so a salt
  * APPENDED after the identity columns would give
  * eid1 = xxhash64(salt) seeded with eid0. */
class RepairEventIdSpec extends SparkSpec {

  test("eid1 is not xxhash64(salt) seeded with eid0") {
    import spark.implicits._
    val rows = Seq(
      ("k1", 1L, "c0", "CELL", 10L, 0L, 2147483647L, false, false, 7L),
      ("k1", 2L, "c1", "CELL", 11L, 60L, 1700000060L, false, true, 9L),
      ("k2", 1L, "c0", "TOMBSTONE", 12L, 0L, 1700000000L, true, false, 0L),
      ("k3", 5L, "c1", "RANGE_START", 13L, 0L, 1700000001L, true, false, 3L))
      .toDF("key", "clustering", "column_name", "kind", "timestamp_us",
        "ttl_s", "local_deletion_time_s", "is_tombstone", "is_expiring",
        "size_bytes")
    val cols = rows.columns.toSeq.map(col)
    val ids = rows.select(
      xxhash64(cols: _*), RepairStream.eventId1(cols),
      // the appended-salt form the id used to have, for contrast
      xxhash64(cols :+ lit(RepairStream.EidSalt): _*))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ids.length === 4)
    ids.foreach { case (eid0, eid1, appended) =>
      val chained = XXH64.hashLong(RepairStream.EidSalt, eid0)
      // the contrast holds (the appended form IS a function of eid0) ...
      assert(appended === chained)
      // ... and the id's second half is not
      assert(eid1 !== chained)
      assert(eid1 !== eid0)
    }
    assert(ids.map(_._2).distinct.length === 4)
  }
}
