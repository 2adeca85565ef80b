package graft

import org.apache.spark.sql.functions._

/** Ground truths for the fourteenth round-5 batch: the EWMA kernel
  * convolution (constant series is a fixed point; a hand-computed step
  * response), and keyness detection on a corpus with planted
  * source-distinctive vocabulary at exactly 2× global share.
  */
class Round5nSpec extends SparkSpec {

  import sqlImplicits._

  test("q_ewma: constant series is a fixed point; step response exact") {
    val li = Seq(
      (ts("2024-01-01 00:00:00"), 1.00),
      (ts("2024-01-02 00:00:00"), 2.00)
    ).toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/ewma", "lineitem" -> li)
    val out = SparkEntry.queries("q_ewma")(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("d").toString ->
        (r.getAs[Long]("n_terms"), r.getAs[Long]("ewma_micro"))).toMap
    assert(out("2024-01-01") == ((1L, 100000000L))) // only w0: the value itself
    // day 2: (200000·200 + 160000·100)·1e6 / 360000 = 155555555
    assert(out("2024-01-02") == ((2L, 155555555L)))
  }

  test("q_ewma: constant sf-fixture-like series stays at its own level") {
    val li = (1 to 5).map(dd => (ts(s"2024-02-0$dd 00:00:00"), 3.00))
      .toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/ewma2", "lineitem" -> li)
    val out = SparkEntry.queries("q_ewma")(spark, dir).collect()
    assert(out.length == 5)
    out.foreach(r => assert(r.getAs[Long]("ewma_micro") == 300000000L))
  }

  test("ta_keyness: planted 2x-distinctive vocabulary ranks first") {
    val docs = Seq(
      (1L, "alpha alpha alpha common common", "A"),
      (2L, "alpha alpha alpha common common", "A"),
      (3L, "beta beta beta common common", "B"),
      (4L, "beta beta beta common common", "B")
    ).toDF("doc_id", "text", "source")
    val dir = plant("/tmp/graft-test/keyness", "documents" -> docs)
    val out = SparkEntry.queries("ta_keyness")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf_s"),
          r.getAs[Long]("ratio_micro"))).toMap
    // alpha: in-source share 6/10 vs global 6/20 → exactly 2×; 'common'
    // sits at 1× (not key) and below the min count anyway
    assert(out.size == 2)
    assert(out(("A", 1L)) == (("alpha", 6L, 2000000L)))
    assert(out(("B", 1L)) == (("beta", 6L, 2000000L)))
  }
}
