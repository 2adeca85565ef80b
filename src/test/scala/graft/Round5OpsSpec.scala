package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-data ground truths for the round-5 additions: duplicated-span
  * extraction (islands merge + cap), association rules (counts + basket
  * cap), Theil–Sen (known constant slope), ACF (hand-computed alternating
  * series), MIPS vs cosine ranking divergence, cluster-aware splitting
  * (leakage impossibility), logistic-regression sanity.
  */
class Round5OpsSpec extends SparkSpec {

  import sqlImplicits._


  test("dd_spans: one maximal shared run, correct offsets and length") {
    val span = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq(
      (1L, s"one two three $span x1 x2"),      // span grams at pos 3..7
      (2L, s"$span y1 y2 y3"),                 // span grams at pos 0..4
      (3L, "totally unrelated filler words with no overlap at all here ok")
    ).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/spans", "documents" -> docs)
    val out = SparkEntry.queries("dd_spans")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Long]("start_a") == 3L && r.getAs[Long]("start_b") == 0L)
    // 12 shared tokens → 12-8+1 = 5 consecutive 8-gram matches
    assert(r.getAs[Long]("n_grams") == 5L && r.getAs[Long]("span_tokens") == 12L)
  }

  test("ev_assoc: exact counts and ratios; over-cap basket is dropped") {
    val part = ((1L, "A") +: (2L, "B") +: (3L to 35L).map(i => (i, s"C$i")))
      .toDF("p_partkey", "p_brand")
    // orders 1..60 buy brands {A,B}; order 61 is a 35-brand basket (> cap
    // 32) that also contains A and B — if not dropped, n_both would be 61
    val li = ((1L to 60L).flatMap(o => Seq((o, 1L), (o, 2L))) ++
      (1L to 35L).map(p => (61L, p))).toDF("l_orderkey", "l_partkey")
    val dir = plant("/tmp/graft-test/assoc", "lineitem" -> li, "part" -> part)
    val out = SparkEntry.queries("ev_assoc")(spark, dir).collect()
    assert(out.length == 2) // A→B and B→A survive the min-support filter
    out.foreach { r =>
      assert(r.getAs[Long]("n_both") == 60L)
      assert(r.getAs[Long]("n_ante") == 60L && r.getAs[Long]("n_cons") == 60L)
      assert(r.getAs[Long]("n_orders") == 60L) // capped basket excluded
      assert(r.getAs[Double]("support") == 1.0)
      assert(r.getAs[Double]("confidence") == 1.0)
      assert(r.getAs[Double]("lift") == 1.0)
    }
  }

  test("q_theilsen: perfectly linear dailies give the exact constant slope") {
    // one order per day, revenue i dollars on day i → every pairwise
    // slope is exactly 100 cents/day = 100_000_000 micro-cents/day
    val orders = (1 to 10).map(i =>
      (java.sql.Date.valueOf(f"2020-01-$i%02d"), i.toDouble))
      .toDF("o_orderdate", "o_totalprice")
    val dir = plant("/tmp/graft-test/theilsen", "orders" -> orders)
    val out = SparkEntry.queries("q_theilsen")(spark, dir).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("median_slope_micro") == 100000000L)
    assert(out.head.getAs[Long]("n_pairs") == 45L) // C(10,2), all ≤ 365d
  }

  test("q_acf: alternating series — hand-computed lag-1/lag-2 ratios") {
    // days alternate $100/$200 → mean 15000c, deviations ±5000c:
    //   den = 10·5000² = 2.5e8
    //   lag1: 9 products of (−5000·5000) → num = −2.25e8 → r = −0.9
    //   lag2: 8 products of (+5000²)     → num = +2.0e8  → r = +0.8
    val orders = (1 to 10).map(i =>
      (java.sql.Date.valueOf(f"2020-01-$i%02d"),
        if (i % 2 == 1) 100.0 else 200.0))
      .toDF("o_orderdate", "o_totalprice")
    val dir = plant("/tmp/graft-test/acf", "orders" -> orders)
    val out = SparkEntry.queries("q_acf")(spark, dir)
      .collect().map(r => r.getAs[Int]("lag_k") -> r).toMap
    assert(out(1).getAs[Long]("n_days") == 10L && out(1).getAs[Long]("mu_c") == 15000L)
    assert(out(1).getAs[String]("num") == "-225000000")
    assert(out(1).getAs[String]("den") == "250000000")
    assert(out(1).getAs[Long]("r_micro") == -900000L)
    assert(out(2).getAs[Long]("r_micro") == 800000L)
    assert(out(7).getAs[Long]("n_pairs") == 3L)
  }

  test("sim_mips ranks by inner product where cosine ranks differently") {
    // q=[1,0]; a=[3,4] has dot 3 but cosine 0.6; b=[1,0] has dot 1 but
    // cosine 1.0 — MIPS must put a first, cosine must put b first
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (100L, Seq(3f, 4f)), (101L, Seq(1f, 0f))
    ).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 8)
    val mips = ext.Similarity.mipsTopK(vecs, q, "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(mips.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(100L, 101L))
    assert(mips.head.getAs[Double]("score") == 3.0)
    val cos = ext.Similarity.bruteForceTopK(vecs, q, "vec_id", "embedding", 2)
      .orderBy("rank").collect()
    assert(cos.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(101L, 100L))
  }

  test("ta_group_split: every near-dup cluster lands in exactly one split") {
    val out = SparkEntry.queries("ta_group_split")(spark, sf0001)
    val docs = SparkEntry.T(spark, sf0001, "documents")
    assert(out.count() == docs.count()) // total: every doc labeled
    val mixed = out.groupBy("cluster_rep")
      .agg(count_distinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
    assert(mixed.count() == 0) // leakage impossible by construction
    val splits = out.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
  }

  test("q_logreg: gradient moved the weights; accuracy count is coherent") {
    val out = SparkEntry.queries("q_logreg")(spark, sf0001).collect().head
    val (w0, w1, w2) = (out.getAs[Double]("w0"), out.getAs[Double]("w1"), out.getAs[Double]("w2"))
    assert(!w0.isNaN && !w1.isNaN && !w2.isNaN)
    assert(w0 != 0.0) // mean error at w=0 is 0.5 − P(F) ≠ 0 on this data
    val n = out.getAs[Long]("n")
    val nc = out.getAs[Long]("n_correct")
    assert(n > 0 && nc > 0 && nc <= n)
  }
}
