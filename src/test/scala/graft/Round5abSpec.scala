package graft

import java.sql.Date

/** Ground truths for the trend/sketch/burstiness batch: a drawn-in
  * monotone series with one tie for Mann-Kendall, a quantile sample
  * whose survivors are recomputed with the same md5 rule in Scala, and
  * a two-day burst pattern with an exact Fano factor.
  */
class Round5abSpec extends SparkSpec {

  import sqlImplicits._

  test("q_mannkendall: strictly rising 5-day series with one tie pair") {
    // x = 1, 2, 2, 3, 4 (dollars) → S: pairs (i<j): all rising except the
    // tie (2,2): S = 9; ties: one group of size 2 → tie_term = 2·1·9 = 18
    val li = Seq(1.0, 2.0, 2.0, 3.0, 4.0).zipWithIndex.map { case (v, i) =>
      (Date.valueOf(f"2024-01-${i + 1}%02d"), v)
    }.toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/mk", "lineitem" -> li)
    val r = SparkEntry.queries("q_mannkendall")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 5L)
    assert(r.getAs[Long]("s") == 9L)
    // var = (5·4·15 − 18)/18 = (300 − 18)/18 = 15
    assert(r.getAs[Long]("var_s") == 15L)
    assert(r.getAs[Long]("z_micro") ==
      math.round((9.0 - 1.0) / math.sqrt(15.0) * 1000000))
  }

  test("sk_quantile: sample membership and nearest-rank estimates replay") {
    val li = (1 to 400).map { i =>
      ("A", (i * 7 % 400) + 1.0, i.toLong, 1L)
    }.toDF("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
    val dir = plant("/tmp/graft-test/skq", "lineitem" -> li)
    val rows = SparkEntry.queries("sk_quantile")(spark, dir).collect()
      .map(r => r.getAs[Long]("quartile") -> r).toMap

    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val surv = (1 to 400).filter(i => md5hex(s"qs:$i:1").startsWith("0"))
      .map(i => math.round(((i * 7 % 400) + 1.0) * 100)).sorted
    assert(surv.nonEmpty)
    for (k <- 1L to 3L) {
      val r = rows(k)
      assert(r.getAs[Long]("n_sample") == surv.length.toLong)
      val rank = (surv.length * k + 3) / 4
      assert(r.getAs[Long]("est_c") == surv((rank - 1).toInt), s"k=$k")
    }
  }

  test("q_burstiness: 9-vs-1 daily split has Fano 3.2, uniform split 0") {
    val ev = ((1 to 9).map(i => (i.toLong, 1L, ts("2024-01-01 10:00:00"), "click")) ++
      Seq((10L, 1L, ts("2024-01-02 10:00:00"), "click")) ++
      Seq((11L, 1L, ts("2024-01-01 10:00:00"), "view"),
        (12L, 1L, ts("2024-01-02 10:00:00"), "view")))
      .map { case (e, u, t, ty) => (e, u, t, ty, 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/fano", "events" -> ev)
    val rows = SparkEntry.queries("q_burstiness")(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    // click: counts (9, 1): n=2, Σc=10, Σc²=82 → (2·82 − 100)·10⁶/(2·10)
    assert(rows("click").getAs[Long]("fano_micro") == (2L * 82 - 100) * 1000000 / 20)
    // view: counts (1, 1): variance 0
    assert(rows("view").getAs[Long]("fano_micro") == 0L)
  }
}
