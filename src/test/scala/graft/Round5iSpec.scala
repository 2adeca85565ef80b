package graft

import org.apache.spark.sql.functions._

/** Planted-data ground truths for the ninth round-5 batch: Cohen's d on
  * hand-solved groups (−1.5·√3 exactly), rolling correlation on a
  * perfect y = 2x day series, session entry→exit paths, the seasonal
  * baseline spike predicate at its algebraic boundary, and a hand-
  * computed difference-in-differences readout.
  */
class Round5iSpec extends SparkSpec {

  import sqlImplicits._

  test("q_cohend: hand-solved pooled sd gives d = -1.5*sqrt(3)") {
    val li = Seq(("R", 1.00), ("R", 2.00), ("R", 3.00), ("N", 4.00), ("N", 6.00))
      .toDF("l_returnflag", "l_extendedprice")
    val dir = plant("/tmp/graft-test/cohend", "lineitem" -> li)
    val r = SparkEntry.queries("q_cohend")(spark, dir).collect().head
    assert(r.getAs[Long]("n_returned") == 3L && r.getAs[Long]("n_kept") == 2L)
    assert(r.getAs[Long]("cohen_d_micro") ==
      math.round(-1.5 * math.sqrt(3.0) * 1e6)) // −2598076
  }

  test("q_rolling_corr: y = 2x daily series correlates at exactly 1e6") {
    val li = Seq(
      (ts("2024-01-01 00:00:00"), 1.0, 0.02),
      (ts("2024-01-02 00:00:00"), 2.0, 0.04),
      (ts("2024-01-03 00:00:00"), 3.0, 0.06)
    ).toDF("l_shipdate", "l_quantity", "l_extendedprice")
    val dir = plant("/tmp/graft-test/rollcorr", "lineitem" -> li)
    val out = SparkEntry.queries("q_rolling_corr")(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("d").toString ->
        (r.getAs[Long]("n_days"), Option(r.getAs[Any]("corr_micro")))).toMap
    assert(out("2024-01-01") == ((1L, None))) // single day: zero variance
    assert(out("2024-01-02") == ((2L, Some(1000000L))))
    assert(out("2024-01-03") == ((3L, Some(1000000L))))
  }

  test("ev_entry_exit: 30-min gap splits sessions; paths counted") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "view"),
      (2L, 1L, ts("2024-01-01 10:10:00"), "click"),
      (3L, 1L, ts("2024-01-01 12:00:00"), "purchase"), // >30 min: new session
      (4L, 2L, ts("2024-01-01 09:00:00"), "view")
    ).map { case (e, u, t, ty) => (e, u, t, ty, 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/entryexit", "events" -> ev)
    val out = SparkEntry.queries("ev_entry_exit")(spark, dir).collect()
      .map(r => (r.getAs[String]("entry"), r.getAs[String]("exit")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("share_micro"))).toMap
    assert(out.size == 3)
    assert(out(("view", "click")) == ((1L, 333333L)))
    assert(out(("purchase", "purchase")) == ((1L, 333333L)))
    assert(out(("view", "view")) == ((1L, 333333L)))
  }

  test("ev_baseline_anomaly: 13-vs-(1,1,1) cell crosses the 3x predicate") {
    def burst(day: String, n: Int, idBase: Long) = (0 until n).map(i =>
      (idBase + i, 1L, ts(s"$day 10:${"%02d".format(i)}:00"), 1.0))
    val ev = (burst("2024-01-01", 1, 100) ++ burst("2024-01-08", 1, 200) ++
      burst("2024-01-15", 1, 300) ++ burst("2024-01-22", 13, 400))
      .toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/baseline", "events" -> ev)
    val out = SparkEntry.queries("ev_baseline_anomaly")(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("d").toString -> r).toMap
    assert(out.size == 4)
    val spike = out("2024-01-22")
    assert(spike.getAs[Long]("n") == 13L && spike.getAs[Long]("sum_n") == 16L)
    assert(spike.getAs[Long]("ratio_micro") == 13L * 4 * 1000000L / 16)
    assert(spike.getAs[Boolean]("is_spike")) // 13·4 = 52 > 3·16 = 48
    assert(!out("2024-01-01").getAs[Boolean]("is_spike"))
    assert(out("2024-01-01").getAs[Long]("ratio_micro") == 250000L)
  }

  test("ev_did: hand-computed four-cell difference-in-differences") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-10 00:00:00"), 1.00), // treat (odd), pre
      (2L, 1L, ts("2024-01-20 00:00:00"), 3.00), // treat, post
      (3L, 2L, ts("2024-01-10 00:00:00"), 2.00), // control, pre
      (4L, 2L, ts("2024-01-20 00:00:00"), 2.50)  // control, post
    ).toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/did", "events" -> ev)
    val r = SparkEntry.queries("ev_did")(spark, dir).collect().head
    assert(r.getAs[Long]("n_tp") == 1L && r.getAs[Long]("n_cb") == 1L)
    // (300 − 100) − (250 − 200) = 150 cents → 150e6 micro
    assert(r.getAs[Long]("did_micro") == 150000000L)
  }
}
