package graft

import java.sql.Date

/** Ground truths for the weekday-ANOVA / ECE / Brier batch: weekday
  * mapping cross-checked on known dates, a miscalibrated bin counted by
  * hand, and a 2-row Brier score.
  */
class Round5auSpec extends SparkSpec {

  import sqlImplicits._

  test("q_weekday: 2024-01-01 is a Monday (wd 0) in both engines") {
    // Mon Jan 1 and Mon Jan 8: 100c each; Tue Jan 2: 300c
    val li = Seq(("2024-01-01", 1.0), ("2024-01-08", 1.0), ("2024-01-02", 3.0))
      .map { case (d, v) => (Date.valueOf(d), v) }
      .toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/weekday", "lineitem" -> li)
    val rows = SparkEntry.queries("q_weekday")(spark, dir).collect()
      .map(r => r.getAs[Long]("wd") -> r).toMap
    assert(rows(0L).getAs[Long]("ng") == 2L)
    assert(rows(0L).getAs[Long]("mean_micro_c") == 100000000L)
    assert(rows(1L).getAs[Long]("ng") == 1L)
    assert(rows(1L).getAs[Long]("mean_micro_c") == 300000000L)
    // Monday group: mean 100, grand mean 500/3 → ssb = 2·(100−166.67)²
    assert(rows(0L).getAs[Long]("ssb_part") ==
      math.round(2.0 * math.pow(100.0 - 500.0 / 3, 2)))
    assert(rows(0L).getAs[Long]("ssw_part") == 0L)
  }

  test("q_ece: one perfectly calibrated bin, one off by 30%") {
    // qty 10 → p = 200000: 1 of 5 returned (acc 200000, gap 0)
    // qty 25 → p = 500000: 4 of 5 returned (acc 800000, gap 300000)
    val li = (Seq(("R"), ("N"), ("N"), ("N"), ("N")).map(f => (10.0, f)) ++
      Seq(("R"), ("R"), ("R"), ("R"), ("N")).map(f => (25.0, f)))
      .toDF("l_quantity", "l_returnflag")
    val dir = plant("/tmp/graft-test/ece", "lineitem" -> li)
    val rows = SparkEntry.queries("q_ece")(spark, dir).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    assert(rows(2L).getAs[Long]("ece_term_micro") == 0L)
    assert(rows(5L).getAs[Long]("acc_micro") == 800000L)
    assert(rows(5L).getAs[Long]("conf_micro") == 500000L)
    assert(rows(5L).getAs[Long]("ece_term_micro") == 5L * 300000 / 10)
  }

  test("q_brier: one sure hit and one total miss average to 0.5") {
    // qty 50 → p = 1e6: returned (gap 0); not returned (gap 1e6 → sq 1e6)
    val li = Seq((50.0, "R"), (50.0, "N")).toDF("l_quantity", "l_returnflag")
    val dir = plant("/tmp/graft-test/brier", "lineitem" -> li)
    val r = SparkEntry.queries("q_brier")(spark, dir).collect().head
    assert(r.getAs[Long]("n_rows") == 2L)
    assert(r.getAs[Long]("brier_micro") == 500000L)
  }
}
