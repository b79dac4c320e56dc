package graft.operators

import java.sql.Timestamp

import graft.SparkSpec
import graft.plans.NativeAsOfJoin

class AsOfJoinSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asof picks the most recent right row at or before the left time, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 10L, ts("2024-01-01 09:00:00")), // before any right row -> null
      (4L, 20L, ts("2024-01-01 12:00:00"))  // exact tie with right -> matches
    ).toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), 1.0),
      (10L, ts("2024-01-01 11:00:00"), 2.0),
      (20L, ts("2024-01-01 12:00:00"), 3.0)
    ).toDF("k", "rt", "v")

    val out = NativeAsOfJoin.asof(left, right, "k", "t", "rt", Seq("v"))
      .select("id", "asof_rt", "asof_v")
      .collect().map(r => r.getLong(0) -> ((Option(r.getTimestamp(1)), Option(r.get(2))))).toMap

    assert(out(1L) == ((Some(ts("2024-01-01 09:30:00")), Some(1.0))))
    assert(out(2L) == ((Some(ts("2024-01-01 11:00:00")), Some(2.0))))
    assert(out(3L) == ((None, None)))
    assert(out(4L) == ((Some(ts("2024-01-01 12:00:00")), Some(3.0))))
  }

  test("asof never crosses keys") {
    import spark.implicits._
    val left = Seq((1L, 1L, ts("2024-01-01 10:00:00"))).toDF("id", "k", "t")
    val right = Seq((2L, ts("2024-01-01 09:00:00"), 9.9)).toDF("k", "rt", "v")
    val out = NativeAsOfJoin.asof(left, right, "k", "t", "rt", Seq("v")).collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("asof_v")))
  }
}
