package graft

import java.sql.Date

/** Ground truths for the drift / revenue-recognition / dose-response
  * batch: a planted shift between snapshots, the largest-remainder
  * allocation checked to the cent, and a drawn dose gradient with the
  * trend z replayed.
  */
class Round5asSpec extends SparkSpec {

  import sqlImplicits._

  test("q_rev_rec: 100.01 spreads as 3334+3333+3334... no — exactly") {
    // one order of $100.01 = 10001c on Jan 15 → thirds 3333 r2:
    // months Jan(+1), Feb(+1), Mar(+0) → 3334, 3334, 3333
    val o = Seq((Date.valueOf("2024-01-15"), 100.01)).toDF("o_orderdate", "o_totalprice")
    val dir = plant("/tmp/graft-test/revrec", "orders" -> o)
    val rows = SparkEntry.queries("q_rev_rec")(spark, dir).collect()
      .map(r => r.getAs[Date]("month").toString -> r.getAs[Long]("recognized_c")).toMap
    assert(rows("2024-01-01") == 3334L)
    assert(rows("2024-02-01") == 3334L)
    assert(rows("2024-03-01") == 3333L)
    assert(rows.values.sum == 10001L) // lossless
  }

  test("ev_feature_drift: a planted activity shift yields positive PSI") {
    // 30 users with 10 events before Jan 15; 20 more users add 30
    // events each between Jan 15 and Jan 25 → bin mix shifts
    val early = for (u <- 1 to 30; i <- 1 to 10)
      yield ((u * 100 + i).toLong, u.toLong, ts("2024-01-10 10:00:00"))
    val late = for (u <- 31 to 50; i <- 1 to 30)
      yield ((u * 100 + i).toLong, u.toLong, ts("2024-01-20 10:00:00"))
    val ev = (early ++ late).map { case (e, u, t) => (e, u, t, "click", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/featdrift", "events" -> ev)
    val rows = SparkEntry.queries("ev_feature_drift")(spark, dir).collect()
    // snapshot A: 30 users bin 0; snapshot B: 30 users bin 0 + 20 users bin 1
    val byBin = rows.map(r => r.getAs[Long]("bin") ->
      (r.getAs[Long]("na"), r.getAs[Long]("nb"))).toMap
    assert(byBin(0L) == ((30L, 30L)))
    assert(byBin(1L) == ((0L, 20L)))
    // PSI total is positive (distribution moved)
    assert(rows.map(_.getAs[Long]("psi_term_micro")).sum > 0L)
  }

  test("ev_dose: planted gradient has positive trend z, replayed exactly") {
    // dose 0: 10 users 1 conv; dose 1: 10 users 5 conv; dose 2: 10 users 9 conv
    val mk = Seq((0, 1), (1, 5), (2, 9))
    val ev = mk.zipWithIndex.flatMap { case ((views, nconv), d) =>
      (1 to 10).flatMap { u =>
        val uid = (d * 100 + u).toLong
        val base = Seq(((uid * 1000), uid, ts("2024-01-01 09:00:00"), "signup", 1.0))
        val vs = (1 to views).map(i =>
          ((uid * 1000 + i), uid, ts("2024-01-01 10:00:00"), "view", 1.0))
        val cv = if (u <= nconv)
          Seq(((uid * 1000 + 99), uid, ts("2024-01-01 11:00:00"), "purchase", 1.0))
        else Seq.empty
        base ++ vs ++ cv
      }
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/dose", "events" -> ev)
    val rows = SparkEntry.queries("ev_dose")(spark, dir).collect()
      .map(r => r.getAs[Long]("dose") -> r).toMap
    assert(rows(0L).getAs[Long]("rate_micro") == 100000L)
    assert(rows(2L).getAs[Long]("rate_micro") == 900000L)
    val (nt, xt) = (30.0, 15.0)
    val sn = 0 * 10 + 1 * 10 + 2 * 10; val sx = 0 * 1 + 1 * 5 + 2 * 9
    val snn = 0 + 1 * 10 + 4 * 10
    val z = (sx - sn * xt / nt) /
      math.sqrt(xt / nt * (1.0 - xt / nt) * (snn - sn.toDouble * sn / nt))
    assert(rows(1L).getAs[Long]("trend_z_micro") == math.round(z * 1000000))
  }
}
