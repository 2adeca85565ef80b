package graft

import graft.ext.Relational
import org.apache.spark.sql.functions._

/** asofJoin / rangeJoin / sessionIds semantics on hand-built frames with
  * known answers, plus equivalence to the naive (non-scalable) formulation.
  */
class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("asofJoin attaches the latest right row at or before the left time, per key") {
    val left = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00")), // before any right row → null
      (2L, "u1", ts("2024-01-01 11:00:00")), // exactly at right 11:00 → inclusive
      (3L, "u1", ts("2024-01-01 12:30:00")), // between 11:00 and 13:00 → 11:00
      (4L, "u1", ts("2024-01-01 14:00:00")), // after 13:00 → 13:00
      (5L, "u2", ts("2024-01-01 12:00:00")), // other key: only u2's rows visible
      (6L, "u3", ts("2024-01-01 12:00:00"))  // key with no right rows → null
    ).toDF("id", "k", "t")
    val right = Seq(
      ("u1", ts("2024-01-01 11:00:00"), 100.0),
      ("u1", ts("2024-01-01 13:00:00"), 200.0),
      ("u2", ts("2024-01-01 11:30:00"), 300.0)
    ).toDF("k", "t", "v")

    val r = Relational.asofJoin(left, right, "k", "t", Seq("v"))
    assert(r.count() == left.count(), "asof join preserves left row count")
    val got = r.collect().map(x => x.getLong(0) -> Option(x.get(3))).toMap
    assert(got == Map(
      1L -> None, 2L -> Some(100.0), 3L -> Some(100.0),
      4L -> Some(200.0), 5L -> Some(300.0), 6L -> None))
  }

  test("asofJoin: a matched right row with a NULL payload value survives the carry-forward") {
    // the struct-carry makes "matched row whose value is null" distinguishable
    // from "no right row yet" — a per-column last(ignoreNulls) would wrongly
    // resurrect the older 100.0 at 13:30
    val left = Seq(
      (1L, "u1", ts("2024-01-01 11:30:00")), // after 11:00 → 100.0
      (2L, "u1", ts("2024-01-01 13:30:00")), // after 13:00 whose v IS NULL → null
      (3L, "u1", ts("2024-01-01 15:30:00"))  // after 15:00 → 300.0
    ).toDF("id", "k", "t")
    val right = Seq(
      ("u1", ts("2024-01-01 11:00:00"), Some(100.0)),
      ("u1", ts("2024-01-01 13:00:00"), None),
      ("u1", ts("2024-01-01 15:00:00"), Some(300.0))
    ).toDF("k", "t", "v")
    val got = Relational.asofJoin(left, right, "k", "t", Seq("v"))
      .collect().map(x => x.getLong(0) -> Option(x.get(3))).toMap
    assert(got == Map(1L -> Some(100.0), 2L -> None, 3L -> Some(300.0)))
  }

  test("rangeJoin equals the naive theta-join on random data, across widths") {
    val rnd = new scala.util.Random(7)
    val left = (1 to 300).map(i => (i.toLong, rnd.nextDouble() * 100)).toDF("id", "v")
    val right = (1 to 40).map { i =>
      val lo = rnd.nextDouble() * 90
      (i.toLong, lo, lo + rnd.nextDouble() * 25)
    }.toDF("rid", "lo", "hi")
    val naive = left.crossJoin(right)
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (width <- Seq(1.0, 8.0, 64.0)) {
      val bucketed = Relational.rangeJoin(left, "v", right, "lo", "hi", width)
        .select("id", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(bucketed.length == bucketed.toSet.size, s"width $width: no duplicate pairs")
      assert(bucketed.toSet == naive, s"width $width")
    }
    assert(naive.nonEmpty)
  }

  test("sessionIds splits on gaps > threshold, 1-based per key") {
    val ev = Seq(
      ("u1", ts("2024-01-01 10:00:00")),
      ("u1", ts("2024-01-01 10:10:00")), // 10 min → same session
      ("u1", ts("2024-01-01 11:00:00")), // 50 min → new session
      ("u1", ts("2024-01-01 11:29:00")), // 29 min → same
      ("u2", ts("2024-01-01 10:00:00"))
    ).toDF("k", "t")
    val got = Relational.sessionIds(ev, "k", "t", gapSeconds = 1800)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
    assert(got == Set(
      ("u1", "2024-01-01 10:00:00.0", 1L),
      ("u1", "2024-01-01 10:10:00.0", 1L),
      ("u1", "2024-01-01 11:00:00.0", 2L),
      ("u1", "2024-01-01 11:29:00.0", 2L),
      ("u2", "2024-01-01 10:00:00.0", 1L)))
    val sessions = Relational.sessionize(ev, "k", "t", 1800)
    assert(sessions.count() == 3)
  }

  test("scd2: collapses unchanged runs, half-open validity, version numbering") {
    val log = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00"), "bronze"),
      (2L, "u1", ts("2024-01-01 11:00:00"), "bronze"), // no change → collapsed
      (3L, "u1", ts("2024-01-01 12:00:00"), "gold"),
      (4L, "u1", ts("2024-01-01 13:00:00"), "bronze"), // back again → new version
      (5L, "u2", ts("2024-01-01 10:30:00"), "silver")
    ).toDF("event_id", "user_id", "ts", "tier")
    val got = Relational.scd2(log, "user_id", "ts", Seq("tier"), Seq("event_id"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getTimestamp(2).toString, Option(r.getTimestamp(3)).map(_.toString),
        r.getBoolean(4), r.getLong(5))).toSet
    assert(got == Set(
      ("u1", "bronze", "2024-01-01 10:00:00.0", Some("2024-01-01 12:00:00.0"), false, 1L),
      ("u1", "gold", "2024-01-01 12:00:00.0", Some("2024-01-01 13:00:00.0"), false, 2L),
      ("u1", "bronze", "2024-01-01 13:00:00.0", None, true, 3L),
      ("u2", "silver", "2024-01-01 10:30:00.0", None, true, 1L)))
  }

  test("scd2: same-timestamp changes are totally ordered by tieBreak") {
    val log = Seq(
      (1L, "u1", ts("2024-01-01 10:00:00"), "a"),
      (2L, "u1", ts("2024-01-01 10:00:00"), "b")
    ).toDF("event_id", "user_id", "ts", "state")
    val got = Relational.scd2(log, "user_id", "ts", Seq("state"), Seq("event_id"))
      .collect().map(r => (r.getString(1), r.getLong(5))).toSet
    assert(got == Set(("a", 1L), ("b", 2L)))
  }
}
