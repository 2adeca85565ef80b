package graft

import org.apache.spark.sql.functions._

/** Ground truths for the fifteenth round-5 batch: percentile_cont on
  * both an exact-rank case (5 values) and a true interpolation case
  * (4 values, /4 remainders), Cramér's V = 1 on a perfectly-associated
  * 2×2 table with zero cells carrying their χ² mass, daily bounce
  * rate on hand-built sessions, and top revenue movers ordering.
  */
class Round5oSpec extends SparkSpec {

  import sqlImplicits._

  test("q_percentile_cont: exact ranks and /4-remainder interpolation") {
    val li = ((1 to 5).map(i => ("R", i * 1.00)) ++ (1 to 4).map(i => ("N", i * 1.00)))
      .zipWithIndex.map { case ((g, p), i) => (i.toLong, i, g, p) }
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    val dir = plant("/tmp/graft-test/pcont", "lineitem" -> li)
    val out = SparkEntry.queries("q_percentile_cont")(spark, dir).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("quartile")) ->
        r.getAs[Long]("pct_micro")).toMap
    // R (n=5): positions land on whole ranks 2,3,4
    assert(out(("R", 1L)) == 200000000L)
    assert(out(("R", 2L)) == 300000000L)
    assert(out(("R", 3L)) == 400000000L)
    // N (n=4): q1 = (100+3·200)/4 = 175, q2 = 250, q3 = 325
    assert(out(("N", 1L)) == 175000000L)
    assert(out(("N", 2L)) == 250000000L)
    assert(out(("N", 3L)) == 325000000L)
  }

  test("q_cramers_v: perfect 2x2 association gives V = 1 exactly") {
    val li = ((1 to 10).map(_ => ("A", "O")) ++ (1 to 10).map(_ => ("B", "F")))
      .toDF("l_returnflag", "l_linestatus")
    val dir = plant("/tmp/graft-test/cramers", "lineitem" -> li)
    val r = SparkEntry.queries("q_cramers_v")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 20L)
    // 4 cells (two of them zero) each contribute 5e6 → χ² = 20
    assert(r.getAs[Long]("chi2_micro") == 20000000L)
    assert(r.getAs[Long]("v_micro") == 1000000L)
  }

  test("ev_bounce: 3 of 4 sessions are single-event bounces") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")), // u1 session: 2 events
      (2L, 1L, ts("2024-01-01 10:10:00")),
      (3L, 2L, ts("2024-01-01 11:00:00")), // u2: bounce
      (4L, 3L, ts("2024-01-01 09:00:00")), // u3: two sessions, both bounce
      (5L, 3L, ts("2024-01-01 12:00:00"))
    ).map { case (e, u, t) => (e, u, t, 1.0) }
      .toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/bounce", "events" -> ev)
    val r = SparkEntry.queries("ev_bounce")(spark, dir).collect().head
    assert(r.getAs[Long]("n_sessions") == 4L)
    assert(r.getAs[Long]("n_bounce") == 3L)
    assert(r.getAs[Long]("bounce_micro") == 750000L)
  }

  test("q_movers: ranked by absolute delta with part tie-break") {
    val li = Seq(
      (1L, ts("1997-06-01 00:00:00"), 1.00), (1L, ts("1998-06-01 00:00:00"), 3.00),
      (2L, ts("1997-06-01 00:00:00"), 5.00), (2L, ts("1998-06-01 00:00:00"), 1.00),
      (3L, ts("1997-06-01 00:00:00"), 2.00), (3L, ts("1998-06-01 00:00:00"), 2.00)
    ).toDF("l_partkey", "l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/movers", "lineitem" -> li)
    val out = SparkEntry.queries("q_movers")(spark, dir).collect()
      .map(r => (r.getAs[Long]("l_partkey"), r.getAs[Long]("delta_c"))).toSeq
    assert(out == Seq((2L, -400L), (1L, 200L), (3L, 0L)))
  }
}
