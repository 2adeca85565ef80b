package graft

import java.sql.Date

/** Ground truths for the HHI / log-loss / volatility batch: a monopoly
  * vs a duopoly, a 2-cell loss replay, and a 2-return month computed by
  * hand.
  */
class Round5anSpec extends SparkSpec {

  import sqlImplicits._

  test("q_hhi: monopoly scores 1e6, an even duopoly 0.5e6") {
    val sup = Seq((1L, 10L), (2L, 20L), (3L, 20L))
      .toDF("s_suppkey", "s_nationkey")
    val li = Seq(
      (1L, 100.0),             // nation 10: one supplier → HHI 1e6
      (2L, 50.0), (3L, 50.0)   // nation 20: 50/50 → HHI 0.5e6
    ).toDF("l_suppkey", "l_extendedprice")
    val dir = plant("/tmp/graft-test/hhi", "supplier" -> sup, "lineitem" -> li)
    val rows = SparkEntry.queries("q_hhi")(spark, dir).collect()
      .map(r => r.getAs[Long]("nationkey") -> r).toMap
    assert(rows(10L).getAs[Long]("hhi_micro") == 1000000L)
    assert(rows(10L).getAs[Boolean]("concentrated"))
    assert(rows(20L).getAs[Long]("hhi_micro") == 500000L)
    assert(rows(20L).getAs[Long]("top_share_micro") == 500000L)
  }

  test("q_logloss: 2-cell replay with clamped probabilities") {
    // qty 10 → p = 0.2: one positive (−ln 0.2), one negative (−ln 0.8)
    val li = Seq((10.0, "R"), (10.0, "N")).toDF("l_quantity", "l_returnflag")
    val dir = plant("/tmp/graft-test/logloss", "lineitem" -> li)
    val r = SparkEntry.queries("q_logloss")(spark, dir).collect().head
    val tp = math.round(-math.log(0.2) * 1000000)
    val tn = math.round(-math.log(0.8) * 1000000)
    assert(r.getAs[Long]("n_rows") == 2L)
    assert(r.getAs[Long]("logloss_micro") == (tp + tn) / 2)
  }

  test("q_volatility: two drawn-in returns in one month") {
    // daily cents: 100, 200, 100 → r = ln2, −ln2 (micro-rounded)
    val li = Seq((1, 1.0), (2, 2.0), (3, 1.0)).map { case (d, v) =>
      (Date.valueOf(f"2024-01-$d%02d"), v)
    }.toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/vol", "lineitem" -> li)
    val r = SparkEntry.queries("q_volatility")(spark, dir).collect().head
    val ln2 = math.round(math.log(2.0) * 1000000)
    assert(r.getAs[Long]("n_days") == 2L)
    assert(r.getAs[Long]("sum_r_micro") == 0L) // +ln2 −ln2
    assert(r.getAs[Long]("vol_micro") ==
      math.round(math.sqrt((2.0 * ln2 * ln2) / 2.0)))
  }
}
