package graft

/** Ground truths for the round-6 continuation batch: a hand-computed
  * split-conformal interval (known calibration histogram → known order
  * statistic → known held-out coverage) and a hand-computed Good–Turing
  * frequency-of-frequencies table on a three-document corpus.
  */
class Round6cSpec extends SparkSpec {

  import sqlImplicits._

  test("q_conformal: hand-computed q̂ and held-out coverage") {
    // DISJOINT three-way split (fit quarters 0,1 / calibrate 2 / test 3):
    // fit: quantities 10×4, 20×3, 30×2 → ŷ = 160 div 9 = 17;
    // cal (orderkey % 4 = 2): the same multiset → n=9, scores 7×4, 3×3,
    // 13×2; cum: 3→3, 7→7, 13→9; 10·cum ≥ 9·(9+1) first holds at s=13
    // → q̂=13, width=27.
    // test (orderkey % 4 = 3): quantities 17, 31, 40 → scores 0, 14, 23
    // → 1 of 3 covered → cov = 333333 micro.
    val fit = Seq(10, 10, 10, 10, 20, 20, 20, 30, 30).zipWithIndex.map {
      case (q, i) => (i.toLong * 4 + (i % 2), 1, q.toLong) // keys ≡ 0,1 (mod 4)
    }
    val cal = Seq(10, 10, 10, 10, 20, 20, 20, 30, 30).zipWithIndex.map {
      case (q, i) => (i.toLong * 4 + 2, 1, q.toLong)
    }
    val test = Seq(17, 31, 40).zipWithIndex.map {
      case (q, i) => (i.toLong * 4 + 3, 1, q.toLong)
    }
    val li = (fit ++ cal ++ test).toDF("l_orderkey", "l_linenumber", "l_quantity")
    val dir = plant("/tmp/graft-test/conformal", "lineitem" -> li)
    val r = SparkEntry.queries("q_conformal")(spark, dir).collect().head
    assert(r.getAs[Long]("n_cal") == 9L)
    assert(r.getAs[Long]("n_test") == 3L)
    assert(r.getAs[Long]("qhat") == 13L)
    assert(r.getAs[Long]("width") == 27L)
    assert(r.getAs[Long]("cov_micro") == 333333L)
  }

  test("ta_good_turing: hand-computed N_r, r* and unseen mass") {
    // trigrams: "a b c"×2 ("a b c d" + "a b c"), "b c d"×1; the 2-token
    // doc contributes none. N = 3, N₁ = 1, N₂ = 1.
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/goodturing", "documents" -> docs)
    val rows = SparkEntry.queries("ta_good_turing")(spark, dir).collect()
      .map(r => r.getAs[Long]("r") -> r).toMap
    assert(rows.keySet == Set(0L, 1L, 2L))
    assert(rows(0L).getAs[Long]("n_r") == 1L)          // N₁
    assert(rows(0L).getAs[Long]("r_star_micro") == 0L)
    assert(rows(0L).getAs[Long]("mass_micro") == 333333L) // P₀ = 1/3
    assert(rows(1L).getAs[Long]("n_r") == 1L)
    assert(rows(1L).getAs[Long]("r_star_micro") == 2000000L) // 2·N₂/N₁
    assert(rows(1L).getAs[Long]("mass_micro") == 333333L)
    assert(rows(2L).getAs[Long]("n_r") == 1L)
    assert(rows(2L).getAs[Long]("r_star_micro") == 0L)       // N₃ = 0
    assert(rows(2L).getAs[Long]("mass_micro") == 666666L)
  }

  test("rec_bt: MM fixed point matches an independent BigInt replay at sf0.001") {
    // independent replay: recompute the pair counts straight off the
    // parquet and fold the same 20 MM rounds in BigInt — the query must
    // reproduce it exactly (integer ops ⇒ bit-for-bit).
    val li = SparkEntry.T(spark, sf0001, "lineitem")
      .selectExpr("l_suppkey % 5 AS a", "l_partkey % 5 AS b",
        "CAST(l_quantity AS BIGINT) % 2 = 0 AS aw")
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getBoolean(2)))
      .filter(t => t._1 != t._2)
    val k = 5
    val n = Array.ofDim[Long](k, k)
    val w = Array.fill(k)(BigInt(0))
    li.foreach { case (a, b, aw) =>
      n(a)(b) += 1; n(b)(a) += 1
      if (aw) w(a) += 1 else w(b) += 1
    }
    val one2 = BigInt(1000000) * 1000000
    var pi = Array.fill(k)(BigInt(1000000))
    for (_ <- 0 until 20) {
      val next = Array.tabulate(k) { i =>
        val d = (0 until k).filter(j => j != i && n(i)(j) > 0)
          .map(j => (BigInt(n(i)(j)) * one2) / (pi(i) + pi(j))).sum
        if (d == 0) pi(i) else (w(i) * one2) / d
      }
      val s5 = next.sum
      pi = next.map(x => (x * 5000000) / s5)
    }
    val got = SparkEntry.queries("rec_bt")(spark, sf0001).collect()
      .map(r => r.getAs[Long]("team") ->
        ((r.getAs[Long]("n_matches"), r.getAs[Long]("n_wins"), r.getAs[Long]("pi_micro"))))
      .toMap
    assert(got.keySet == (0 until k).map(_.toLong).toSet)
    (0 until k).foreach { i =>
      assert(got(i.toLong) == ((n(i).sum, w(i).toLong, pi(i).toLong)),
        s"team $i: got ${got(i.toLong)}, replay ${(n(i).sum, w(i).toLong, pi(i).toLong)}")
    }
    // sanity: ratings sum to the 5e6 normalization (± k from floor div)
    val tot = got.values.map(_._3).sum
    assert(tot >= 5000000L - k && tot <= 5000000L)
  }

  test("sim_matryoshka: prefix-dim recall is bounded and self-consistent") {
    val rows = SparkEntry.queries("sim_matryoshka")(spark, sf0001).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val h = r.getAs[Long]("n_hits")
      assert(h >= 0L && h <= 10L)
      assert(math.abs(r.getAs[Double]("recall_at_10") - h / 10.0) < 1e-12)
    }
  }
}
