package graft

import org.apache.spark.sql.functions._

/** Ground truths for the nineteenth round-5 batch: one-way ANOVA on
  * three hand-solved groups (per-group SS integers pinned, F through
  * the identical double path), and partial correlation both in the
  * rxz = ryz = 0 case (partial equals plain) and against an
  * independent Scala reimplementation on a nontrivial triple.
  */
class Round5sSpec extends SparkSpec {

  import sqlImplicits._

  test("q_anova: three hand-solved groups (SSB 388333, SSW 40000)") {
    val li = Seq(("A", 1.00), ("A", 2.00), ("A", 3.00),
      ("B", 4.00), ("B", 6.00), ("C", 9.00))
      .toDF("l_returnflag", "l_extendedprice")
    val dir = plant("/tmp/graft-test/anova", "lineitem" -> li)
    val r = SparkEntry.queries("q_anova")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 6L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Long]("ssb_c2") == 140833L + 13889L + 233611L) // 388333
    assert(r.getAs[Long]("ssw_c2") == 40000L)
    val f = math.round(388333.0 / 2.0 / (40000.0 / 3.0) * 1e6)
    assert(r.getAs[Long]("f_micro") == f)
  }

  test("q_partial_corr: orthogonal control leaves r untouched") {
    // z is uncorrelated with x and y → r_xy·z = r_xy = 1 (y = x)
    val li = Seq((1.0, 0.01, 0.01), (2.0, 0.02, 0.02), (3.0, 0.03, 0.02), (4.0, 0.04, 0.01))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
    val dir = plant("/tmp/graft-test/pcorr", "lineitem" -> li)
    val r = SparkEntry.queries("q_partial_corr")(spark, dir).collect().head
    assert(r.getAs[Long]("rxy_micro") == 1000000L)
    assert(r.getAs[Long]("rxy_given_z_micro") == 1000000L)
  }

  test("q_partial_corr: nontrivial triple matches independent formula") {
    val xs = Seq(1L, 2L, 3L, 4L, 5L)
    val ys = Seq(2L, 1L, 4L, 3L, 5L)
    val zs = Seq(1L, 1L, 2L, 2L, 3L)
    val li = xs.indices.map(i => (xs(i).toDouble, ys(i) / 100.0, zs(i) / 100.0))
      .toDF("l_quantity", "l_extendedprice", "l_discount")
    val dir = plant("/tmp/graft-test/pcorr2", "lineitem" -> li)
    val r = SparkEntry.queries("q_partial_corr")(spark, dir).collect().head
    // same IEEE expression shape, written independently
    def pearson(a: Seq[Long], b: Seq[Long]): Double = {
      val n = a.size.toLong
      val (sa, sb) = (a.sum, b.sum)
      val saa = a.map(v => v * v).sum; val sbb = b.map(v => v * v).sum
      val sab = a.zip(b).map { case (u, v) => u * v }.sum
      (n * sab - sa * sb).toDouble /
        (math.sqrt((n * saa - sa * sa).toDouble) * math.sqrt((n * sbb - sb * sb).toDouble))
    }
    val (rxy, rxz, ryz) = (pearson(xs, ys), pearson(xs, zs), pearson(ys, zs))
    assert(r.getAs[Long]("rxy_micro") == math.round(rxy * 1e6))
    val part = (rxy - rxz * ryz) / math.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
    assert(r.getAs[Long]("rxy_given_z_micro") == math.round(part * 1e6))
  }
}
