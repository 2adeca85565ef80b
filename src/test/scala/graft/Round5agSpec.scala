package graft

import java.sql.Date

/** Ground truths for the paired-test / price-index / key-discovery
  * batch: hand-drawn discordant pairs, a 2-part basket whose three
  * indices are computed on paper, and planted duplicate keys.
  */
class Round5agSpec extends SparkSpec {

  import sqlImplicits._

  test("q_mcnemar: hand-drawn discordant pairs") {
    // part 1: returned '97 only (b); part 2: '98 only (c); part 3: both
    // (concordant); part 4: '97-only presence → excluded from pairs
    val li = Seq(
      (1L, Date.valueOf("1997-03-01"), "R"), (1L, Date.valueOf("1998-03-01"), "N"),
      (2L, Date.valueOf("1997-03-01"), "N"), (2L, Date.valueOf("1998-03-01"), "R"),
      (3L, Date.valueOf("1997-03-01"), "R"), (3L, Date.valueOf("1998-03-01"), "R"),
      (4L, Date.valueOf("1997-03-01"), "R")
    ).toDF("l_partkey", "l_shipdate", "l_returnflag")
    val dir = plant("/tmp/graft-test/mcnemar", "lineitem" -> li)
    val r = SparkEntry.queries("q_mcnemar")(spark, dir).collect().head
    assert(r.getAs[Long]("n_pairs") == 3L)
    assert(r.getAs[Long]("b") == 1L && r.getAs[Long]("c") == 1L)
    assert(r.getAs[Long]("chi2_micro") == 0L) // (1-1)²/(1+1)
    assert(!r.getAs[Boolean]("significant"))
  }

  test("q_price_index: 2-part basket on paper") {
    // part 1: '97 q=10 @ $1 (rev 1000c), '98 q=10 @ $2 (rev 2000c)
    // part 2: '97 q=5 @ $4 (rev 2000c), '98 q=5 @ $4 (rev 2000c)
    val li = Seq(
      (1L, Date.valueOf("1997-06-01"), 10.0, 10.0),
      (1L, Date.valueOf("1998-06-01"), 10.0, 20.0),
      (2L, Date.valueOf("1997-06-01"), 5.0, 20.0),
      (2L, Date.valueOf("1998-06-01"), 5.0, 20.0)
    ).toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")
    val dir = plant("/tmp/graft-test/priceidx", "lineitem" -> li)
    val r = SparkEntry.queries("q_price_index")(spark, dir).collect().head
    assert(r.getAs[Long]("n_parts") == 2L)
    // Laspeyres: Σ(p1·q0) = 2000 + 2000 = 4000 over Σ(p0·q0) = 1000+2000
    assert(r.getAs[Long]("laspeyres_micro") == 4000L * 1000000 / 3000L)
    // Paasche: Σrev1 = 4000 over Σ(p0·q1) = 1000+2000 = 3000
    assert(r.getAs[Long]("paasche_micro") == 4000L * 1000000 / 3000L)
    // unit value: (4000/15)/(3000/15) = 4/3
    assert(r.getAs[Long]("unit_value_micro") == 4000L * 15 * 1000000 / (15 * 3000L))
  }

  test("q_key_discovery: planted duplicate breaks the key") {
    val o = Seq((1L, 10L, Date.valueOf("2024-01-01")),
      (2L, 10L, Date.valueOf("2024-01-01")), // same (custkey, date) → not a key
      (3L, 11L, Date.valueOf("2024-01-02"))
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val li = Seq((1L, 1L), (1L, 2L), (2L, 1L))
      .toDF("l_orderkey", "l_linenumber")
    val dir = plant("/tmp/graft-test/keydisc", "orders" -> o, "lineitem" -> li)
    val rows = SparkEntry.queries("q_key_discovery")(spark, dir).collect()
      .map(r => r.getAs[String]("candidate") ->
        (r.getAs[Long]("n_distinct"), r.getAs[Boolean]("is_key"), r.getAs[Long]("max_dup"))).toMap
    assert(rows("orders(o_orderkey)") == ((3L, true, 1L)))
    assert(rows("orders(o_custkey)") == ((2L, false, 2L)))
    assert(rows("orders(o_custkey,o_orderdate)") == ((2L, false, 2L)))
    assert(rows("lineitem(l_orderkey)") == ((2L, false, 2L)))
    assert(rows("lineitem(l_orderkey,l_linenumber)") == ((3L, true, 1L)))
  }
}
