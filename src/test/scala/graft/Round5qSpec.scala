package graft

import org.apache.spark.sql.functions._

/** Ground truths for the seventeenth round-5 batch: the runs test on a
  * hand-walked up/down sequence (R=4, z = 0.6/√0.84), alert flapping
  * with one single-hour blip among three alert hours, and robust means
  * that shrug off a planted 10× outlier.
  */
class Round5qSpec extends SparkSpec {

  import sqlImplicits._

  test("q_runs_test: hand-walked sequence gives R=4, z=0.6/sqrt(0.84)") {
    // daily cents 100,400,200,500,300,600; median 300 (dropped) →
    // signs d,u,d,u,u → 4 runs, n1=3 up, n2=2 down
    val li = Seq((1, 1.00), (2, 4.00), (3, 2.00), (4, 5.00), (5, 3.00), (6, 6.00))
      .map { case (dd, p) => (ts(s"2024-01-0$dd 00:00:00"), p) }
      .toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/runs", "lineitem" -> li)
    val r = SparkEntry.queries("q_runs_test")(spark, dir).collect().head
    assert(r.getAs[Long]("n1") == 3L && r.getAs[Long]("n2") == 2L)
    assert(r.getAs[Long]("runs") == 4L)
    assert(r.getAs[Long]("z_micro") ==
      math.round((4.0 - 3.4) / math.sqrt(0.84) * 1e6)) // 654654
  }

  test("ev_flap: three alert hours, three transitions, one blip") {
    def hour(h: String, n: Int, errs: Int, base: Long) = (0 until n).map { i =>
      (base + i, 1L, ts(s"2024-01-01 $h:00:${"%02d".format(i)}"),
        if (i < errs) "error" else "view", 1.0)
    }
    val ev = (hour("10", 5, 1, 100) ++ hour("11", 5, 0, 200) ++
      hour("12", 5, 1, 300) ++ hour("13", 5, 1, 400) ++ hour("14", 5, 0, 500))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/flap", "events" -> ev)
    val r = SparkEntry.queries("ev_flap")(spark, dir).collect().head
    assert(r.getAs[Long]("n_hours") == 5L)
    assert(r.getAs[Long]("n_alert_hours") == 3L)
    assert(r.getAs[Long]("n_transitions") == 3L)
    assert(r.getAs[Long]("n_one_hour_blips") == 1L) // the 10:00 alert
  }

  test("q_trimmed: a 10x outlier moves the mean but not the robust means") {
    val li = ((1 to 19).map(i => i * 1.00) :+ 100.00).zipWithIndex
      .map { case (p, i) => (i.toLong, i, "R", p) }
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    val dir = plant("/tmp/graft-test/trim", "lineitem" -> li)
    val r = SparkEntry.queries("q_trimmed")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 20L && r.getAs[Long]("k") == 1L)
    // plain mean would be 1450 cents; both robust means sit at 1050
    assert(r.getAs[Long]("trimmed_micro") == 1050000000L)
    assert(r.getAs[Long]("winsor_micro") == 1050000000L)
  }
}
