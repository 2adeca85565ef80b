package graft

import java.sql.Timestamp

/** Ground truths for the round-6 survival / causality / streaming batch:
  * a hand-computed Nelson–Aalen risk table, a hand-computed two-arm
  * log-rank chi-square, an exact-arithmetic Granger replay on the real
  * sf0.001 panel, and stream_topk ≡ the batch window rank.
  */
class Round6bSpec extends SparkSpec {

  import sqlImplicits._

  test("ev_hazard: hand-computed risk table and cumulative hazard") {
    // u1 converts day 0; u2,u3 convert day 1; u4 censored at the
    // horizon (day 3). Risk sets 4 → 3 → 1; only death days emit rows.
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", "view"), (1L, "2024-01-01 12:00:00", "purchase"),
      (2L, "2024-01-01 00:00:00", "view"), (2L, "2024-01-02 06:00:00", "purchase"),
      (3L, "2024-01-01 00:00:00", "view"), (3L, "2024-01-02 06:00:00", "purchase"),
      (4L, "2024-01-01 00:00:00", "view"), (4L, "2024-01-04 00:00:00", "view"))
      .map { case (u, t, e) => (u, Timestamp.valueOf(t), e) }
      .toDF("user_id", "ts", "event_type")
    val dir = plant("/tmp/graft-test/hazard", "events" -> ev)
    val rows = SparkEntry.queries("ev_hazard")(spark, dir).collect()
      .map(r => r.getAs[Long]("day") -> r).toMap
    assert(rows.keySet == Set(0L, 1L))
    assert(rows(0L).getAs[Long]("n_risk") == 4L)
    assert(rows(0L).getAs[Long]("n_events") == 1L)
    assert(rows(0L).getAs[Long]("hazard_micro") == 250000L)
    assert(rows(0L).getAs[Long]("cumhaz_micro") == 250000L)
    assert(rows(1L).getAs[Long]("n_risk") == 3L)
    assert(rows(1L).getAs[Long]("n_events") == 2L)
    assert(rows(1L).getAs[Long]("hazard_micro") == 666666L)
    assert(rows(1L).getAs[Long]("cumhaz_micro") == 916666L)
  }

  test("ev_logrank: hand-computed hypergeometric terms and chi-square") {
    // arm 1 (odd users) both convert day 0; arm 0 (even) censored day 2.
    // Day 0: dt=2, d1=2, nt=4, n1=2 → E=1e6, V=333333; O=2 →
    // chi2 = (2e6−1e6)² // 333333 = 3000003 micro.
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", "view"), (1L, "2024-01-01 10:00:00", "purchase"),
      (3L, "2024-01-01 00:00:00", "view"), (3L, "2024-01-01 11:00:00", "purchase"),
      (2L, "2024-01-01 00:00:00", "view"), (2L, "2024-01-03 00:00:00", "view"),
      (4L, "2024-01-01 00:00:00", "view"), (4L, "2024-01-03 00:00:00", "view"))
      .map { case (u, t, e) => (u, Timestamp.valueOf(t), e) }
      .toDF("user_id", "ts", "event_type")
    val dir = plant("/tmp/graft-test/logrank", "events" -> ev)
    val r = SparkEntry.queries("ev_logrank")(spark, dir).collect().head
    assert(r.getAs[Long]("o1") == 2L)
    assert(r.getAs[Long]("e1_micro") == 1000000L)
    assert(r.getAs[Long]("v1_micro") == 333333L)
    assert(r.getAs[Long]("chi2_micro") == 3000003L)
  }

  test("q_granger matches an exact-arithmetic independent replay at sf0.001") {
    val daily = SparkEntry.T(spark, sf0001, "lineitem")
      .groupBy($"l_shipdate")
      .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("y"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr("CAST(l_quantity AS BIGINT)")).as("x"))
      .orderBy($"l_shipdate").collect()
      .map(r => (r.getAs[Long]("y"), r.getAs[Long]("x")))
    val lagged = daily.sliding(2).map { case Array((y0, x0), (y1, _)) => (y1, y0, x0) }.toArray
    val n = BigInt(lagged.length)
    def S(f: ((Long, Long, Long)) => BigInt): BigInt = lagged.map(f).sum
    val g01 = S { case (_, y1, _) => BigInt(y1) }
    val g02 = S { case (_, _, x1) => BigInt(x1) }
    val g0y = S { case (y, _, _) => BigInt(y) }
    val g11 = S { case (_, y1, _) => BigInt(y1) * y1 }
    val g12 = S { case (_, y1, x1) => BigInt(y1) * x1 }
    val g1y = S { case (y, y1, _) => BigInt(y1) * y }
    val g22 = S { case (_, _, x1) => BigInt(x1) * x1 }
    val g2y = S { case (y, _, x1) => BigInt(x1) * y }
    val syy = S { case (y, _, _) => BigInt(y) * y }
    val (a00, a01, a02, b0) = (n.toDouble, g01.toDouble, g02.toDouble, g0y.toDouble)
    val (a11, a12, b1) = (g11.toDouble, g12.toDouble, g1y.toDouble)
    val (a22, b2, syyD) = (g22.toDouble, g2y.toDouble, syy.toDouble)
    val det3 = a00 * (a11 * a22 - a12 * a12) - a01 * (a01 * a22 - a12 * a02) + a02 * (a01 * a12 - a11 * a02)
    val det2 = a00 * a11 - a01 * a01
    val bb0 = (b0 * (a11 * a22 - a12 * a12) - a01 * (b1 * a22 - a12 * b2) + a02 * (b1 * a12 - a11 * b2)) / det3
    val bb1 = (a00 * (b1 * a22 - a12 * b2) - b0 * (a01 * a22 - a12 * a02) + a02 * (a01 * b2 - b1 * a02)) / det3
    val bb2 = (a00 * (a11 * b2 - a12 * b1) - a01 * (a01 * b2 - b1 * a02) + b0 * (a01 * a12 - a11 * a02)) / det3
    val rssu = syyD - ((bb0 * b0 + bb1 * b1) + bb2 * b2)
    val aa0 = (b0 * a11 - a01 * b1) / det2
    val aa1 = (a00 * b1 - a01 * b0) / det2
    val rssr = syyD - (aa0 * b0 + aa1 * b1)
    def halfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val r = SparkEntry.queries("q_granger")(spark, sf0001).collect().head
    assert(r.getAs[Long]("n") == lagged.length.toLong)
    assert(r.getAs[Long]("beta_x_micro") == halfUp(bb2 * 1e6))
    assert(r.getAs[Long]("f_micro") ==
      halfUp((rssr - rssu) / (rssu / (lagged.length - 3).toDouble) * 1e6))
  }

  test("stream_topk equals the batch top-5 per type at sf0.001") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("stream_topk")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("rnk"),
        r.getAs[Long]("event_id"), r.getAs[Long]("v"))).toSet
    val w = Window.partitionBy("event_type")
      .orderBy(col("v").desc, col("event_id").asc)
    val want = SparkEntry.events(spark, sf0001)
      .select(col("event_type"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("rnk"),
        r.getAs[Long]("event_id"), r.getAs[Long]("v"))).toSet
    assert(got == want && got.nonEmpty)
  }
}
