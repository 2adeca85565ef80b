package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-data ground truths for the second round-5 batch: chi-squared
  * independence (zero terms under exact independence), rolling-origin
  * backtest (linear dailies → exact per-model MAE), Zipf fit (two-point
  * corpus → slope exactly −1), decision stump (pure split → zero Gini,
  * single-bin feature emits no candidates), t-closeness (hand-computed
  * cross-multiplied EMDs), KMV theta sketch (not-full sketches → the
  * exact path for every set-algebra estimate), link prediction (known
  * wedge counts; adjacent candidates excluded).
  */
class Round5bSpec extends SparkSpec {

  import sqlImplicits._


  test("q_chisq: independent table → every cell term is exactly zero") {
    val cust = Seq((1L, "X"), (2L, "Y")).toDF("c_custkey", "c_mktsegment")
    // each segment: 2 'F' + 2 'O' orders → perfectly independent 2×2
    val orders = Seq(
      (1L, "F"), (1L, "F"), (1L, "O"), (1L, "O"),
      (2L, "F"), (2L, "F"), (2L, "O"), (2L, "O")
    ).toDF("o_custkey", "o_orderstatus")
    val dir = plant("/tmp/graft-test/chisq", "customer" -> cust, "orders" -> orders)
    val out = SparkEntry.queries("q_chisq")(spark, dir).collect()
    assert(out.length == 4)
    out.foreach { r =>
      assert(r.getAs[Long]("observed") == 2L)
      assert(r.getAs[Long]("expected_micro") == 2000000L) // 4·4·10⁶ div 8
      assert(r.getAs[Long]("term_micro") == 0L)
    }
  }

  test("ev_backtest: linear dailies → exact constant per-model MAE") {
    // revenue i dollars on day i, days 1..10; scoring days are 8..10:
    //   naive err = 100c, snaive err = 700c, ma7 err = 400c (mean of the
    //   previous 7 days of a linear series is day−4's value) — exactly
    val orders = (1 to 10).map(i =>
      (java.sql.Date.valueOf(f"2020-01-$i%02d"), i.toDouble))
      .toDF("o_orderdate", "o_totalprice")
    val dir = plant("/tmp/graft-test/backtest", "orders" -> orders)
    val out = SparkEntry.queries("ev_backtest")(spark, dir)
      .collect().map(r => r.getAs[String]("model") -> r).toMap
    assert(out.size == 3)
    out.values.foreach(r => assert(r.getAs[Long]("n_days") == 3L))
    assert(out("naive").getAs[Long]("sae_c") == 300L)
    assert(out("naive").getAs[Long]("mae_micro") == 100000000L)
    assert(out("snaive").getAs[Long]("sae_c") == 2100L)
    assert(out("snaive").getAs[Long]("mae_micro") == 700000000L)
    assert(out("ma7").getAs[Long]("sae_c") == 1200L)
    assert(out("ma7").getAs[Long]("mae_micro") == 400000000L)
  }

  test("ta_zipf: two-point perfect Zipf corpus → slope exactly −1") {
    // freqs 2,1 at ranks 1,2: OLS through two points is the two-point
    // slope (ln1−ln2)/(ln2−ln1) = −1; micro-nats make it −1000000 exactly
    val docs = Seq((1L, "aa aa bb")).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/zipf", "documents" -> docs)
    val out = SparkEntry.queries("ta_zipf")(spark, dir).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_pts") == 2L)
    assert(out.head.getAs[Long]("slope_micro") == -1000000L)
  }

  test("q_stump: pure year split → zero Gini; single-bin price emits no candidate") {
    val orders = ((1 to 10).map(_ =>
      (java.sql.Date.valueOf("1995-06-01"), "O", 30.0)) ++
      (1 to 10).map(_ => (java.sql.Date.valueOf("1996-06-01"), "F", 30.0)))
      .toDF("o_orderdate", "o_orderstatus", "o_totalprice")
    val dir = plant("/tmp/graft-test/stump", "orders" -> orders)
    val out = SparkEntry.queries("q_stump")(spark, dir).collect()
    assert(out.length == 1) // price has one bin → no (n_left < n_tot) row
    val r = out.head
    assert(r.getAs[String]("feature") == "year")
    assert(r.getAs[Long]("threshold") == 1995L)
    assert(r.getAs[Long]("n_left") == 10L && r.getAs[Long]("pos_left") == 0L)
    assert(r.getAs[Long]("n_right") == 10L && r.getAs[Long]("pos_right") == 10L)
    assert(r.getAs[Long]("g_micro") == 0L)
    assert(r.getAs[Boolean]("is_best"))
  }

  test("q_tcloseness: hand-computed cross-multiplied EMDs per class") {
    // bands: acctbal 0.0 → band 0, 9999.0 → band 9. Classes:
    //   A: 2×band0 + 2×band9, B: 3×band0 + 1×band9, C: 8×band0
    // global N=16, band0=13 → cumG=13 on every prefix; per-prefix terms:
    //   A: |2·16−13·4|=20 → ×9=180 → 180e6 div (4·16·9)=312500 (fails t)
    //   B: |3·16−13·4|=4  → ×9=36  → 36e6  div 576       =62500  (passes)
    //   C: |8·16−13·8|=24 → ×9=216 → 216e6 div 1152      =187500 (passes)
    val rows =
      (1 to 2).map(i => (i.toLong, "A", 1L, 0.0)) ++
        (3 to 4).map(i => (i.toLong, "A", 1L, 9999.0)) ++
        (5 to 7).map(i => (i.toLong, "B", 2L, 0.0)) ++ Seq((8L, "B", 2L, 9999.0)) ++
        (9 to 16).map(i => (i.toLong, "C", 3L, 0.0))
    val cust = rows.toDF("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
    val dir = plant("/tmp/graft-test/tclose", "customer" -> cust)
    val out = SparkEntry.queries("q_tcloseness")(spark, dir)
      .collect().map(r => r.getAs[String]("seg") -> r).toMap
    assert(out.size == 3)
    assert(out("A").getAs[Long]("emd_micro") == 312500L && !out("A").getAs[Boolean]("tclose"))
    assert(out("B").getAs[Long]("emd_micro") == 62500L && out("B").getAs[Boolean]("tclose"))
    assert(out("C").getAs[Long]("emd_micro") == 187500L && out("C").getAs[Boolean]("tclose"))
  }

  test("sk_theta: not-full sketches take the exact path for all five estimates") {
    // A = custkeys 1..50 (orders), B = 31..60 (positive balances); all
    // sketches hold < 256 hashes → θ = 2⁶⁴ and every estimate is exact
    val orders = (1 to 50).map(i => (i.toLong, i.toLong))
      .toDF("o_orderkey", "o_custkey")
    val cust = (1 to 60).map(i =>
      (i.toLong, if (i > 30) 100.0 else -10.0)).toDF("c_custkey", "c_acctbal")
    val dir = plant("/tmp/graft-test/theta", "orders" -> orders, "customer" -> cust)
    val out = SparkEntry.queries("sk_theta")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_sk_a") == 50L && r.getAs[Long]("n_sk_b") == 30L)
    assert(r.getAs[Long]("est_a") == 50L && r.getAs[Long]("est_b") == 30L)
    assert(r.getAs[Long]("est_union") == 60L && r.getAs[Long]("exact_union") == 60L)
    assert(r.getAs[Long]("est_inter") == 20L && r.getAs[Long]("exact_inter") == 20L)
    assert(r.getAs[Long]("est_diff_ab") == 30L && r.getAs[Long]("exact_diff_ab") == 30L)
  }

  test("g_linkpred: known wedge counts; adjacent candidate excluded") {
    // anchor 199 ~ {1,2,7}; 5 ~ {1,2}; 7 shares middles {1,2} with 199
    // but IS adjacent → excluded; 1,2 reach cn=1 → below threshold.
    // Survivor: (199,5) cn=2, deg(199)=3, deg(5)=2 → J = 2/3 → 666666
    val li = Seq(
      (10L, 199L), (10L, 1L), (20L, 199L), (20L, 2L),
      (30L, 1L), (30L, 5L), (40L, 2L), (40L, 5L),
      (50L, 199L), (50L, 7L), (60L, 1L), (60L, 7L), (70L, 2L), (70L, 7L)
    ).toDF("l_orderkey", "l_partkey")
    val dir = plant("/tmp/graft-test/linkpred", "lineitem" -> li)
    val out = SparkEntry.queries("g_linkpred")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("u") == 199L && r.getAs[Long]("v") == 5L)
    assert(r.getAs[Long]("cn") == 2L)
    assert(r.getAs[Long]("du") == 3L && r.getAs[Long]("dv") == 2L)
    assert(r.getAs[Long]("jaccard_micro") == 666666L)
  }
}
