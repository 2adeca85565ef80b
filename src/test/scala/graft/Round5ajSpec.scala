package graft

import java.sql.Date

/** Ground truths for the XYZ / rolling-median / lifecycle batch:
  * planted steady vs erratic demand, a window whose median is read off
  * by hand, and a drawn-in lifecycle calendar.
  */
class Round5ajSpec extends SparkSpec {

  import sqlImplicits._

  test("q_xyz: steady part lands in X, erratic in Z, single-month excluded") {
    val li = Seq(
      // part 1: 10/10/10 per month → cv 0 → X
      (1L, Date.valueOf("1997-01-05"), 10.0), (1L, Date.valueOf("1997-02-05"), 10.0),
      (1L, Date.valueOf("1997-03-05"), 10.0),
      // part 2: 1/20 → cv = sqrt(180.5)/10.5 ≈ 1.28 → Z
      (2L, Date.valueOf("1997-01-05"), 1.0), (2L, Date.valueOf("1997-02-05"), 20.0),
      // part 3: one month only → excluded
      (3L, Date.valueOf("1997-01-05"), 5.0)
    ).toDF("l_partkey", "l_shipdate", "l_quantity")
    val dir = plant("/tmp/graft-test/xyz", "lineitem" -> li)
    val rows = SparkEntry.queries("q_xyz")(spark, dir).collect()
      .map(r => r.getAs[String]("xyz_class") -> r.getAs[Long]("n_parts")).toMap
    assert(rows.get("X").contains(1L))
    assert(rows.get("Z").contains(1L))
    assert(!rows.contains("Y"))
    assert(rows.values.sum == 2L) // part 3 excluded
  }

  test("q_rolling_median: lower median over a hand-drawn 4-day series") {
    // daily cents: 100, 900, 200, 300 → windows sorted:
    // d1 [100] → 100; d2 [100,900] → 100; d3 [100,200,900] → 200;
    // d4 [100,200,300,900] → 200
    val li = Seq((1, 1.0), (2, 9.0), (3, 2.0), (4, 3.0)).map { case (d, v) =>
      (Date.valueOf(f"2024-01-$d%02d"), v)
    }.toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/rollmed", "lineitem" -> li)
    val rows = SparkEntry.queries("q_rolling_median")(spark, dir).collect()
      .map(r => r.getAs[Date]("d").toString -> r.getAs[Long]("med_c")).toMap
    assert(rows("2024-01-01") == 100L)
    assert(rows("2024-01-02") == 100L)
    assert(rows("2024-01-03") == 200L)
    assert(rows("2024-01-04") == 200L)
  }

  test("ev_lifecycle: new / retained / returning / resurrected calendar") {
    val ev = Seq(
      (1L, 1L, "2024-01-01"), // user 1 new
      (2L, 1L, "2024-01-02"), // retained (gap 1)
      (3L, 1L, "2024-01-05"), // returning (gap 3)
      (4L, 1L, "2024-01-20"), // resurrected (gap 15)
      (5L, 2L, "2024-01-02")  // user 2 new
    ).map { case (e, u, d) => (e, u, ts(s"$d 10:00:00"), "click", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/lifecycle", "events" -> ev)
    val byDay = SparkEntry.queries("ev_lifecycle")(spark, dir).collect()
      .map(r => r.getAs[Long]("day_idx") -> r).toMap
    val d0 = java.time.LocalDate.parse("2024-01-01").toEpochDay
    assert(byDay(d0).getAs[Long]("n_new") == 1L)
    assert(byDay(d0 + 1).getAs[Long]("n_retained") == 1L)
    assert(byDay(d0 + 1).getAs[Long]("n_new") == 1L) // user 2
    assert(byDay(d0 + 4).getAs[Long]("n_returning") == 1L)
    assert(byDay(d0 + 19).getAs[Long]("n_resurrected") == 1L)
  }
}
