package graft

import org.apache.spark.sql.functions._

/** Ground truths for the twentieth round-5 batch: freshness lag/SLA
  * breach against the literal as-of instant, partition checksums
  * recomputed independently with java.security MD5, and the 2-D
  * histogram's fixed-width binning.
  */
class Round5tSpec extends SparkSpec {

  import sqlImplicits._

  test("q_freshness: lag versus the 200-day SLA flags only the stale feed") {
    val orders = Seq((1L, 1L, ts("1998-12-01 00:00:00"), 1.0, "O"))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderstatus")
    val li = Seq((1L, ts("1997-01-01 00:00:00")))
      .toDF("l_orderkey", "l_shipdate")
    val dir = plant("/tmp/graft-test/fresh", "orders" -> orders, "lineitem" -> li)
    val out = SparkEntry.queries("q_freshness")(spark, dir).collect()
      .map(r => r.getAs[String]("feed") ->
        (r.getAs[Long]("lag_s"), r.getAs[Boolean]("breached"))).toMap
    assert(out("orders") == ((30L * 86400, false)))   // 30 days fresh
    assert(out("lineitem") == ((729L * 86400, true))) // 2 years stale
  }

  test("q_checksum_parts: xor fold matches an independent MD5 per year") {
    val orders = Seq(
      (1L, 10L, ts("1997-03-05 00:00:00"), 10.00, "O"),
      (2L, 20L, ts("1997-07-09 00:00:00"), 20.50, "F"),
      (3L, 30L, ts("1998-01-01 00:00:00"), 5.25, "P")
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderstatus")
    val dir = plant("/tmp/graft-test/ckparts", "orders" -> orders)
    val out = SparkEntry.queries("q_checksum_parts")(spark, dir).collect()
      .map(r => r.getAs[Long]("part_year") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("checksum"))).toMap
    def h(row: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(row.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val y97 = h("1|10|O|1000|1997-03-05") ^ h("2|20|F|2050|1997-07-09")
    val y98 = h("3|30|P|525|1998-01-01")
    assert(out(1997L) == ((2L, y97)))
    assert(out(1998L) == ((1L, y98)))
  }

  test("q_histogram2d: fixed-width bins and exact shares") {
    val li = Seq((3.0, 5.00), (7.0, 25000.00), (48.0, 99999.00))
      .toDF("l_quantity", "l_extendedprice")
    val dir = plant("/tmp/graft-test/h2d", "lineitem" -> li)
    val out = SparkEntry.queries("q_histogram2d")(spark, dir).collect()
      .map(r => (r.getAs[Long]("qty_bin"), r.getAs[Long]("price_bin")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("share_micro"))).toMap
    assert(out.size == 3)
    assert(out((0L, 0L)) == ((1L, 333333L)))
    assert(out((1L, 2L)) == ((1L, 333333L)))
    assert(out((9L, 9L)) == ((1L, 333333L)))
  }
}
