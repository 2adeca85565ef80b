package graft

import org.apache.spark.sql.functions._

/** Ground truths for the thirteenth round-5 batch: the Lorenz decile
  * table on an arithmetic revenue ladder (hand-summed cumulative
  * shares), cohort LTV against the same hand-applied decay as the
  * ev_ltv spec, and the SRM chi-square on both a 60/40 violation
  * (χ² = 4.0 > 3.841) and a clean 50/50 split.
  */
class Round5mSpec extends SparkSpec {

  import sqlImplicits._

  test("q_lorenz: arithmetic ladder fills one customer per decile") {
    val orders = (1 to 10).map(i => (i.toLong, i.toLong, i * 1.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val dir = plant("/tmp/graft-test/lorenz", "orders" -> orders)
    val out = SparkEntry.queries("q_lorenz")(spark, dir).collect()
      .map(r => r.getAs[Long]("decile") -> r).toMap
    assert(out.size == 10)
    assert(out(1L).getAs[Long]("n_customers") == 1L)
    assert(out(1L).getAs[Long]("rev_c") == 100L)
    assert(out(1L).getAs[Long]("share_micro") == 100L * 1000000L / 5500L)
    assert(out(10L).getAs[Long]("rev_c") == 1000L)
    val expCum = (1 to 10).map(i => i * 100L * 1000000L / 5500L).sum
    assert(out(10L).getAs[Long]("cum_share_micro") == expCum) // 999995
  }

  test("q_cohort_ltv: cohorts roll up the same hand-applied decay") {
    val orders = Seq(
      (1L, 1L, ts("1994-03-01 00:00:00"), 10.00),
      (2L, 1L, ts("1996-07-01 00:00:00"), 20.00),
      (3L, 2L, ts("1995-01-15 00:00:00"), 5.00)
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val dir = plant("/tmp/graft-test/cohortltv", "orders" -> orders)
    val out = SparkEntry.queries("q_cohort_ltv")(spark, dir).collect()
      .map(r => r.getAs[Long]("cohort_year") ->
        (r.getAs[Long]("n_customers"), r.getAs[Long]("ltv_c"),
          r.getAs[Long]("avg_ltv_micro"))).toMap
    assert(out(1994L) == ((1L, 2620L, 2620000000L)))
    assert(out(1995L) == ((1L, 500L, 500000000L)))
  }

  test("ev_srm: 60/40 split flags (chi2 = 4.0), 50/50 stays clean") {
    def ev(n0: Int, n1: Int) = ((0 until n0).map(i =>
      (i.toLong, 1L, ts("2024-01-01 10:00:00"), 1.0, """{"k": 0}""")) ++
      (0 until n1).map(i =>
        (1000L + i, 1L, ts("2024-01-01 10:00:00"), 1.0, """{"k": 1}""")))
      .toDF("event_id", "user_id", "ts", "value", "props")
    val dirBad = plant("/tmp/graft-test/srm1", "events" -> ev(60, 40))
    val bad = SparkEntry.queries("ev_srm")(spark, dirBad).collect().head
    assert(bad.getAs[Long]("n_variants") == 2L && bad.getAs[Long]("n_total") == 100L)
    assert(bad.getAs[Long]("chi2_micro") == 4000000L)
    assert(bad.getAs[Boolean]("srm_detected"))
    val dirOk = plant("/tmp/graft-test/srm2", "events" -> ev(50, 50))
    val ok = SparkEntry.queries("ev_srm")(spark, dirOk).collect().head
    assert(ok.getAs[Long]("chi2_micro") == 0L)
    assert(!ok.getAs[Boolean]("srm_detected"))
  }
}
