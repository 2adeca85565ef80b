package graft

import org.apache.spark.sql.functions._

/** Ground truths for the twelfth round-5 batch: STL-lite decomposition
  * (constant series decomposes to zeros; the additive identity holds on
  * a full fixture), funnel time-to-convert quantiles at hand-picked
  * ranks, and the SLO burn alert on both sides of the 14.4× threshold.
  */
class Round5lSpec extends SparkSpec {

  import sqlImplicits._

  test("q_stl: constant series decomposes to zero seasonal and residual") {
    val li = (1 to 7).map(dd => (ts(s"2024-01-0$dd 00:00:00"), 1.00))
      .toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/stl", "lineitem" -> li)
    val out = SparkEntry.queries("q_stl")(spark, dir).collect()
    assert(out.length == 7)
    out.foreach { r =>
      assert(r.getAs[Long]("trend_micro") == 100000000L)
      assert(r.getAs[Long]("seasonal_micro") == 0L)
      assert(r.getAs[Long]("resid_micro") == 0L)
    }
  }

  test("q_stl: additive identity x*1e6 = trend + seasonal + resid on sf0.001") {
    val out = SparkEntry.queries("q_stl")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val lhs = r.getAs[Long]("rev_c") * 1000000L
      val rhs = r.getAs[Long]("trend_micro") + r.getAs[Long]("seasonal_micro") +
        r.getAs[Long]("resid_micro")
      assert(lhs == rhs, s"identity broken on ${r.getAs[java.sql.Date]("d")}")
    }
  }

  test("ev_funnel_time: exact median and p90 ranks over 3 conversions") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "view"),
      (2L, 1L, ts("2024-01-01 10:00:10"), "purchase"), // 10 s
      (3L, 2L, ts("2024-01-01 10:00:00"), "view"),
      (4L, 2L, ts("2024-01-01 10:00:20"), "purchase"), // 20 s
      (5L, 3L, ts("2024-01-01 10:00:00"), "view"),
      (6L, 3L, ts("2024-01-01 10:01:40"), "purchase"), // 100 s
      (7L, 4L, ts("2024-01-01 10:00:00"), "view"),     // never converts
      (8L, 5L, ts("2024-01-01 09:59:00"), "purchase"), // purchase BEFORE view
      (9L, 5L, ts("2024-01-01 10:00:00"), "view")
    ).map { case (e, u, t, ty) => (e, u, t, ty, 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/funneltime", "events" -> ev)
    val r = SparkEntry.queries("ev_funnel_time")(spark, dir).collect().head
    assert(r.getAs[Long]("n_converted") == 3L)
    assert(r.getAs[Long]("median_s") == 20L) // rank ceil(1.5) = 2
    assert(r.getAs[Long]("p90_s") == 100L)   // rank ceil(2.7) = 3
  }

  test("ev_slo_burn: alert on both sides of the 14.4x threshold") {
    def hour(h: String, n: Int, errs: Int, base: Long) = (0 until n).map { i =>
      (base + i, 1L, ts(s"2024-01-01 $h:00:${"%02d".format(i)}"),
        if (i < errs) "error" else "view", 1.0)
    }
    val ev = (hour("10", 4, 0, 100) ++ hour("11", 5, 1, 200) ++ hour("12", 7, 1, 300))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/slo", "events" -> ev)
    val out = SparkEntry.queries("ev_slo_burn")(spark, dir).collect()
      .map(r => r.getAs[java.sql.Timestamp]("hour").toString ->
        (r.getAs[Long]("burn_micro"), r.getAs[Boolean]("alert"))).toMap
    assert(out("2024-01-01 10:00:00.0") == ((0L, false)))
    assert(out("2024-01-01 11:00:00.0") == ((20000000L, true)))  // 20× burn
    assert(out("2024-01-01 12:00:00.0") == ((14285714L, false))) // just under
  }
}
