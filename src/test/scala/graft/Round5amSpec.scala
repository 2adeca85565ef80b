package graft

import java.sql.Date

/** Ground truths for the Cpk / lateness / EMD batch: a centered vs
  * off-center process, a hand-drawn arrival order with one late event,
  * and two histograms whose EMD is counted on paper.
  */
class Round5amSpec extends SparkSpec {

  import sqlImplicits._

  test("q_cpk: centered process has cpk = cp, off-center is penalized") {
    // A: values 24, 26 → mean 25 (center of [5,45]), s = sqrt(2)
    // B: values 40, 42 → mean 41, s = sqrt(2): cpk uses 45−41 = 4
    val li = Seq(("A", 24.0), ("A", 26.0), ("B", 40.0), ("B", 42.0))
      .toDF("l_returnflag", "l_quantity")
    val dir = plant("/tmp/graft-test/cpk", "lineitem" -> li)
    val rows = SparkEntry.queries("q_cpk")(spark, dir).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r).toMap
    val s2 = math.sqrt(2.0)
    assert(rows("A").getAs[Long]("cp_micro") == math.round(40.0 / (6 * s2) * 1000000))
    assert(rows("A").getAs[Long]("cpk_micro") == math.round(20.0 / (3 * s2) * 1000000))
    assert(rows("B").getAs[Long]("cpk_micro") == math.round(4.0 / (3 * s2) * 1000000))
    assert(rows("B").getAs[Long]("cp_micro") == rows("A").getAs[Long]("cp_micro"))
  }

  test("ev_late: one out-of-order arrival with 600 s skew") {
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00"), // arrival 1
      (2L, 1L, "2024-01-01 09:50:00"), // arrival 2 but EARLIER ts: late, 600 s
      (3L, 1L, "2024-01-01 11:00:00"), // in order
      (4L, 2L, "2024-01-01 08:00:00")  // other user, first arrival
    ).map { case (e, u, t) => (e, u, ts(t), "click", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/late", "events" -> ev)
    val r = SparkEntry.queries("ev_late")(spark, dir).collect().head
    assert(r.getAs[Long]("n_events") == 4L)
    assert(r.getAs[Long]("n_late") == 1L)
    assert(r.getAs[Long]("max_skew_s") == 600L)
    assert(r.getAs[Long]("late_micro") == 250000L)
  }

  test("q_emd: all-R mass one bin right of all-K mass → EMD = one bin") {
    // R rows at $15000 (bin 1), K rows at $5000 (bin 0): |ΔCDF| = 1e6 at
    // bin 0, 0 at bin 1 → EMD = 1e6
    val li = Seq((15000.0, "R"), (15000.0, "R"), (5000.0, "N"), (5000.0, "N"))
      .toDF("l_extendedprice", "l_returnflag")
    val dir = plant("/tmp/graft-test/emd", "lineitem" -> li)
    val r = SparkEntry.queries("q_emd")(spark, dir).collect().head
    assert(r.getAs[Long]("n_bins") == 2L)
    assert(r.getAs[Long]("emd_micro") == 1000000L)
  }
}
