package graft

import java.sql.Date

/** Ground truths for the data-ops batch: hand-planted FD violations,
  * an inclusion candidate with a known orphan, and a revenue series
  * with a drawn-in level shift whose best split is obvious.
  */
class Round5zSpec extends SparkSpec {

  import sqlImplicits._

  test("q_fd_check: planted single- and multi-valued groups are counted") {
    val cust = Seq((1L, "a"), (2L, "b")).toDF("c_custkey", "c_name")
    val ord = Seq((1L, "O"), (1L, "F"), (2L, "O"))
      .toDF("o_custkey", "o_orderstatus")
    val li = Seq((10L, "A", 5L, 100L), (10L, "A", 5L, 100L),
      (11L, "R", 6L, 101L), (11L, "N", 6L, 101L), (11L, "A", 7L, 102L))
      .toDF("l_orderkey", "l_returnflag", "l_suppkey", "l_partkey")
    val dir = plant("/tmp/graft-test/fdcheck",
      "customer" -> cust, "orders" -> ord, "lineitem" -> li)
    val rows = SparkEntry.queries("q_fd_check")(spark, dir).collect()
      .map(r => r.getAs[String]("fd") ->
        (r.getAs[Long]("n_groups"), r.getAs[Long]("n_violating"), r.getAs[Long]("max_rhs"))).toMap
    assert(rows("c_custkey->c_name") == ((2L, 0L, 1L)))
    assert(rows("o_custkey->o_orderstatus") == ((2L, 1L, 2L)))
    assert(rows("l_orderkey->l_returnflag") == ((2L, 1L, 3L)))
    assert(rows("l_partkey->l_suppkey") == ((3L, 0L, 1L)))
  }

  test("q_inclusion: the planted orphan order key is the only miss") {
    val li = Seq((1L, 100L), (2L, 101L)).toDF("l_orderkey", "l_partkey")
    val ord = Seq((1L, 10L), (2L, 10L), (3L, 11L)).toDF("o_orderkey", "o_custkey")
    val cust = Seq(Tuple1(10L), Tuple1(11L)).toDF("c_custkey")
    val part = Seq(Tuple1(100L), Tuple1(101L), Tuple1(102L)).toDF("p_partkey")
    val dir = plant("/tmp/graft-test/inclusion",
      "lineitem" -> li, "orders" -> ord, "customer" -> cust, "part" -> part)
    val rows = SparkEntry.queries("q_inclusion")(spark, dir).collect()
      .map(r => r.getAs[String]("candidate") ->
        (r.getAs[Long]("n_distinct"), r.getAs[Long]("n_missing"), r.getAs[Boolean]("holds"))).toMap
    assert(rows("l_orderkey<=o_orderkey") == ((2L, 0L, true)))
    assert(rows("o_orderkey<=l_orderkey") == ((3L, 1L, false))) // order 3 has no items
    assert(rows("o_custkey<=c_custkey") == ((2L, 0L, true)))
    assert(rows("p_partkey<=l_partkey") == ((3L, 1L, false))) // part 102 never shipped
  }

  test("q_changepoint: the drawn-in level shift wins the gain ranking") {
    // 3 days at $1.00/day then 3 days at $9.00/day → best split after day 3
    val li = (1 to 6).map { d =>
      (Date.valueOf(f"2024-01-$d%02d"), if (d <= 3) 1.0 else 9.0)
    }.toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/changepoint", "lineitem" -> li)
    val rows = SparkEntry.queries("q_changepoint")(spark, dir).collect()
    assert(rows.length == 3)
    val top = rows.head
    assert(top.getAs[Date]("split_after").toString == "2024-01-03")
    assert(top.getAs[Long]("n_left") == 3L && top.getAs[Long]("n_right") == 3L)
    // exact gain: diff = 300·3 − 2700·3 = −7200 (cents·days);
    // gain = 7200² / (3·3·6·10⁴) = 96 dollars²... integer: 51840000/540000 = 96
    assert(top.getAs[Long]("gain") == 96L)
    // gains are ranked non-increasing
    val gains = rows.map(_.getAs[Long]("gain")).toSeq
    assert(gains == gains.sorted.reverse)
  }
}
