package graft

import java.sql.Date

/** Ground truths for the paired-t / delta-ratio / IV batch, each
  * recomputed with the identical double sequence in Scala so equality
  * is exact.
  */
class Round5ahSpec extends SparkSpec {

  import sqlImplicits._

  test("q_paired_ttest: three matched parts, d = (+100, +200, +300)") {
    val li = (1 to 3).flatMap { p =>
      Seq((p.toLong, Date.valueOf("1997-06-01"), 10.0),
        (p.toLong, Date.valueOf("1998-06-01"), 10.0 + p))
    }.toDF("l_partkey", "l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/pairedt", "lineitem" -> li)
    val r = SparkEntry.queries("q_paired_ttest")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Long]("sum_d_c") == 600L)
    // t = 600 / sqrt((3·140000 − 360000)/2) = 600/sqrt(30000)
    assert(r.getAs[Long]("t_micro") ==
      math.round(600.0 / math.sqrt((3.0 * 140000 - 360000) / 2.0) * 1000000))
  }

  test("ev_ratio_delta: two users per arm, replayed formula") {
    // arm 0: users 2 (x=200c,y=2), 4 (x=400c,y=1); arm 1: users 1, 3
    val ev = Seq(
      (1L, 2L, 1.0), (2L, 2L, 1.0),     // user 2: two events of $1
      (3L, 4L, 4.0),                     // user 4: one event of $4
      (4L, 1L, 2.0), (5L, 1L, 0.0),      // user 1
      (6L, 3L, 3.0)                      // user 3
    ).map { case (e, u, v) => (e, u, ts("2024-01-01 10:00:00"), "click", v) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/ratiodelta", "events" -> ev)
    val rows = SparkEntry.queries("ev_ratio_delta")(spark, dir).collect()
      .map(r => r.getAs[Long]("arm") -> r).toMap
    val r0 = rows(0L)
    assert(r0.getAs[Long]("n") == 2L)
    assert(r0.getAs[Long]("ratio_micro") == 600L * 1000000 / 3L) // 600c over 3 events
    def se(n: Long, sx: Double, sy: Double, sxx: Double, syy: Double, sxy: Double) = {
      val vx = (n * sxx - sx * sx) / (n.toDouble * (n - 1))
      val vy = (n * syy - sy * sy) / (n.toDouble * (n - 1))
      val cxy = (n * sxy - sx * sy) / (n.toDouble * (n - 1))
      val r = sx / sy
      math.round(math.sqrt((vx + r * r * vy - 2.0 * r * cxy) / n) / (sy / n) * 1000000)
    }
    // arm0: x = (200, 400), y = (2, 1)
    assert(r0.getAs[Long]("se_micro") ==
      se(2, 600, 3, 200.0 * 200 + 400.0 * 400, 5, 200.0 * 2 + 400.0 * 1))
  }

  test("q_iv: a perfectly separating bin has large |woe|, signs are right") {
    // bin 0 (qty < 10): all returned; bin 1 (qty 10-19): none returned
    val li = (1 to 20).map { i =>
      if (i <= 10) (5.0, "R") else (15.0, "N")
    }.toDF("l_quantity", "l_returnflag")
    val dir = plant("/tmp/graft-test/iv", "lineitem" -> li)
    val rows = SparkEntry.queries("q_iv")(spark, dir).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    // bin 0: pos=10, neg=0 → woe = ln((11·20)/(1·20)) = ln 11
    assert(rows(0L).getAs[Long]("woe_micro") == math.round(math.log(11.0) * 1000000))
    assert(rows(1L).getAs[Long]("woe_micro") == -math.round(math.log(11.0) * 1000000))
    assert(rows(0L).getAs[Long]("iv_micro") > 0L)
    assert(rows(1L).getAs[Long]("iv_micro") > 0L) // (p−n) and woe share sign
  }
}
