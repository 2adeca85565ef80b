package graft

import org.apache.spark.sql.functions._

/** Planted-data ground truths for the sixth round-5 batch: discounted
  * LTV (hand-applied decay table), LOCF gap-fill (hand-walked spine),
  * month churn ledger, per-group OLS on an exact line, PR curve from
  * enumerated confusion cells, grid spatial join vs a brute-force cross
  * join, degree assortativity on a 3-edge graph with r = −1/2 exactly,
  * Bloom sizing against the textbook n=100 numbers, and hapax counts.
  */
class Round5fSpec extends SparkSpec {

  import sqlImplicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("ev_ltv: decay table applied per year offset, all-integer credits") {
    // cust 1: 1994 $10.00 (dy 0 → 1000c), 1996 $20.00 (dy 2 → 2000·0.81
    // = 1620c); cust 2: 1995 $5.00 (dy 0 → 500c).
    val orders = Seq(
      (1L, 1L, ts("1994-03-01 00:00:00"), 10.00),
      (2L, 1L, ts("1996-07-01 00:00:00"), 20.00),
      (3L, 2L, ts("1995-01-15 00:00:00"), 5.00)
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val dir = plant("/tmp/graft-test/ltv", "orders" -> orders)
    val out = SparkEntry.queries("ev_ltv")(spark, dir).collect()
      .map(r => r.getAs[Long]("custkey") ->
        (r.getAs[Long]("n_orders"), r.getAs[Long]("raw_c"), r.getAs[Long]("ltv_c"))).toMap
    assert(out(1L) == ((2L, 3000L, 2620L)))
    assert(out(2L) == ((1L, 500L, 500L)))
  }

  test("ev_gapfill: spine covers the span, gaps carry the last value") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), 1.00),
      (2L, 1L, ts("2024-01-01 11:00:00"), 0.40), // same day: max wins
      (3L, 1L, ts("2024-01-03 09:00:00"), 2.50)
    ).toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/gapfill", "events" -> ev)
    val out = SparkEntry.queries("ev_gapfill")(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("d").toString ->
        (r.getAs[Long]("v_filled"), r.getAs[Boolean]("is_gap"))).toMap
    assert(out.size == 3)
    assert(out("2024-01-01") == ((100L, false)))
    assert(out("2024-01-02") == ((100L, true))) // carried forward
    assert(out("2024-01-03") == ((250L, false)))
  }

  test("ev_churn: active/retained/churned/new per month") {
    // u1: Jan+Feb, u2: Jan only, u3: Feb only.
    val ev = Seq(
      (1L, 1L, ts("2024-01-05 00:00:00")), (2L, 1L, ts("2024-02-05 00:00:00")),
      (3L, 2L, ts("2024-01-20 00:00:00")),
      (4L, 3L, ts("2024-02-10 00:00:00"))
    ).map { case (e, u, t) => (e, u, t, 1.0) }
      .toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/churn", "events" -> ev)
    val out = SparkEntry.queries("ev_churn")(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("month").toString ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("n_retained"),
          r.getAs[Long]("n_churned"), r.getAs[Long]("n_new"))).toMap
    assert(out("2024-01-01") == ((2L, 1L, 1L, 2L)))
    assert(out("2024-02-01") == ((2L, 0L, 2L, 1L)))
  }

  test("q_grouped_ols: exact line y = 100x gives slope 1e8 micro, icept 0") {
    val part = Seq((10L, "B1")).toDF("p_partkey", "p_brand")
    val li = Seq((10L, 1.0, 1.00), (10L, 2.0, 2.00), (10L, 3.0, 3.00))
      .toDF("l_partkey", "l_quantity", "l_extendedprice")
    val dir = plant("/tmp/graft-test/gols", "part" -> part, "lineitem" -> li)
    val r = SparkEntry.queries("q_grouped_ols")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 3L && r.getAs[Long]("sx") == 6L
      && r.getAs[Long]("sy") == 600L)
    assert(r.getAs[Long]("slope_micro") == 100000000L)
    assert(r.getAs[Long]("icept_micro") == 0L)
  }

  test("q_pr_curve: enumerated confusion cells at three thresholds") {
    val li = Seq((3.0, "R"), (3.0, "N"), (2.0, "R"), (1.0, "N"))
      .toDF("l_quantity", "l_returnflag")
    val dir = plant("/tmp/graft-test/pr", "lineitem" -> li)
    val out = SparkEntry.queries("q_pr_curve")(spark, dir).collect()
      .map(r => r.getAs[Long]("threshold") ->
        (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
          r.getAs[Long]("precision_micro"), r.getAs[Long]("recall_micro"))).toMap
    assert(out(3L) == ((1L, 1L, 500000L, 500000L)))
    assert(out(2L) == ((2L, 1L, 666666L, 1000000L)))
    assert(out(1L) == ((2L, 2L, 500000L, 1000000L)))
  }

  test("q_spatial_join: grid candidates equal the brute-force cross join") {
    val cust = (1L to 200L).toDF("c_custkey")
    val dir = plant("/tmp/graft-test/spatial", "customer" -> cust)
    val got = SparkEntry.queries("q_spatial_join")(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Long]("dist2")))
      .toSet
    // brute force: every pair, no grid — the grid must lose nothing
    val pts = (1L to 200L).map(k =>
      (k, (k * 2654435761L) % 1000, (k * 2246822519L) % 1000))
    val want = (for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts if a < b
      d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by) if d2 <= 2500
    } yield (a, b, d2)).toSet
    assert(want.nonEmpty && got == want)
  }

  test("g_assortativity: 3-edge star-ish graph has r = -1/2 exactly") {
    // edges c1-s1, c1-s2, c2-s1 → degree pairs (2,2),(2,1),(1,2):
    // num = 3·8 − 25 = −1, varx = vary = 2 → r = −0.5.
    val orders = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("o_orderkey", "o_custkey")
    val li = Seq((1L, 100L), (2L, 200L), (3L, 100L)).toDF("l_orderkey", "l_suppkey")
    val dir = plant("/tmp/graft-test/assort", "orders" -> orders, "lineitem" -> li)
    val r = SparkEntry.queries("g_assortativity")(spark, dir).collect().head
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Long]("r_micro") == -500000L)
  }

  test("sk_bloom_planner: textbook n=100 sizing (959 bits/k=7, 1438/k=10)") {
    val docs = (1L to 100L).map(i => (i, s"doc $i", "a"))
      .toDF("doc_id", "text", "source")
    val dir = plant("/tmp/graft-test/bloom", "documents" -> docs)
    val out = SparkEntry.queries("sk_bloom_planner")(spark, dir).collect()
      .map(r => r.getAs[Long]("fpp_bp") ->
        (r.getAs[Long]("m_bits"), r.getAs[Long]("k_hashes"),
          r.getAs[Long]("bits_per_item_micro"))).toMap
    assert(out(100L) == ((959L, 7L, 9590000L)))  // p = 1%
    assert(out(10L) == ((1438L, 10L, 14380000L))) // p = 0.1%
  }

  test("ta_hapax: counted vocabulary and hapax share") {
    val docs = Seq((1L, "a b a", "x"), (2L, "c b", "x"))
      .toDF("doc_id", "text", "source")
    val dir = plant("/tmp/graft-test/hapax", "documents" -> docs)
    val r = SparkEntry.queries("ta_hapax")(spark, dir).collect().head
    assert(r.getAs[Long]("n_tokens") == 5L && r.getAs[Long]("n_vocab") == 3L
      && r.getAs[Long]("n_hapax") == 1L)
    assert(r.getAs[Long]("ttr_micro") == 600000L)
    assert(r.getAs[Long]("hapax_micro") == 333333L)
  }
}
