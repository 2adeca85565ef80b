package graft

import java.sql.{Date, Timestamp}

/** Ground truths for the round-6 batch: a hand-computed Friedman panel
  * (perfect consistency hits the statistic's maximum; a tie fixture
  * exercises the correction), an independent Scala silhouette replay
  * against the trained IVF cells, a constructed IPW stratification, and
  * a two-customer leave-last-out recommender fixture that also proves
  * the no-leakage property (test items never influence similarities).
  */
class Round6aSpec extends SparkSpec {

  import sqlImplicits._

  test("q_friedman: perfectly consistent ranking reaches the chi2 maximum; incomplete days drop") {
    // 4 complete days where A > B > C every day; day 5 lacks flag C and
    // must be excluded. Rank sums (doubled): A=24, B=16, C=8 →
    // chi2 = 12·(896/4)/(4·3·4) − 3·4·4 = 8 (the n=4,k=3 maximum).
    val rows = for {
      d <- Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04")
      (f, p) <- Seq(("A", 3.0), ("B", 2.0), ("C", 1.0))
    } yield (Date.valueOf(d), f, p)
    val extra = Seq((Date.valueOf("2024-01-05"), "A", 3.0),
      (Date.valueOf("2024-01-05"), "B", 2.0))
    val li = (rows ++ extra).toDF("l_shipdate", "l_returnflag", "l_extendedprice")
    val dir = plant("/tmp/graft-test/friedman", "lineitem" -> li)
    val r = SparkEntry.queries("q_friedman")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("k") == 3L)
    assert(r.getAs[Long]("sum_rj2sq") == 24L * 24 + 16L * 16 + 8L * 8)
    assert(r.getAs[Long]("tie_sum") == 0L)
    assert(r.getAs[Long]("chi2_micro") == 8000000L)
    assert(r.getAs[Long]("chi2_adj_micro") == 8000000L)
  }

  test("q_friedman: within-day tie takes midranks and the tie correction") {
    // one day, A=2.00 and B=C=1.00: doubled midranks A=6, B=C=3 →
    // chi2 = 12·(54/4)/12 − 12 = 1.5; t3t = 2³−2 = 6 →
    // adj = 1.5/(1 − 6/24) = 2.0
    val li = Seq((Date.valueOf("2024-01-01"), "A", 2.0),
      (Date.valueOf("2024-01-01"), "B", 1.0),
      (Date.valueOf("2024-01-01"), "C", 1.0))
      .toDF("l_shipdate", "l_returnflag", "l_extendedprice")
    val dir = plant("/tmp/graft-test/friedman2", "lineitem" -> li)
    val r = SparkEntry.queries("q_friedman")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 1L && r.getAs[Long]("k") == 3L)
    assert(r.getAs[Long]("sum_rj2sq") == 54L)
    assert(r.getAs[Long]("tie_sum") == 6L)
    assert(r.getAs[Long]("chi2_micro") == 1500000L)
    assert(r.getAs[Long]("chi2_adj_micro") == 2000000L)
  }

  test("sim_silhouette matches an independent Scala replay at sf0.001") {
    def halfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val emb = SparkEntry.T(spark, sf0001, "embeddings")
    val cents = ext.IvfIndex.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val vecs = emb.collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0; while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val expected = vecs.map { case (_, v) =>
      val vv = dot(v, v)
      // assignment by the NearestCellsExpr score (‖c‖² − 2⟨v,c⟩, cell asc)
      val own = cents.minBy { case (cid, c) => (dot(c, c) - 2 * dot(v, c), cid) }._1
      val d2 = cents.map { case (cid, c) =>
        cid -> ((vv - 2.0 * dot(v, c)) + dot(c, c))
      }.toMap
      val a = math.sqrt(d2(own))
      val b = math.sqrt(cents.collect { case (cid, _) if cid != own => d2(cid) }.min)
      val sil = if (math.max(a, b) == 0.0) 0L else halfUp((b - a) / math.max(a, b) * 1e6)
      own -> sil
    }.groupBy(_._1).map { case (cell, xs) =>
      val ss = xs.map(_._2).sum
      cell -> (xs.length.toLong, ss, halfUp(ss.toDouble / xs.length))
    }
    val got = SparkEntry.queries("sim_silhouette")(spark, sf0001).collect()
      .map(r => r.getAs[Int]("cell") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("sil_sum_micro"),
          r.getAs[Long]("mean_sil_micro"))).toMap
    assert(got == expected)
  }

  test("ev_ipw: constructed strata give propensity 1/2 and the exact HT terms") {
    // 20 users, pre_n = 21 − user_id → deciles pair users (1,2),(3,4),…;
    // each stratum has one control (odd) and one treated (even). Treated
    // users ≤ 10 purchase post-cut: strata 1–5 get HT term
    // 1·2·1e6/1 − 0 = 2e6, strata 6–10 get 0.
    val cut = Timestamp.valueOf("2024-01-15 00:00:00")
    val ev = (1 to 20).flatMap { u =>
      val pre = (1 to (21 - u)).map(i =>
        (u.toLong, Timestamp.valueOf(s"2024-01-01 00:00:${f(i)}"), "view"))
      val post = if (u % 2 == 0 && u <= 10)
        Seq((u.toLong, Timestamp.valueOf("2024-01-20 00:00:00"), "purchase"))
      else Seq((u.toLong, Timestamp.valueOf("2024-01-20 00:00:00"), "view"))
      pre ++ post
    }.toDF("user_id", "ts", "event_type")
    assert(ev.filter($"ts" < cut).count() > 0) // fixture sanity
    val dir = plant("/tmp/graft-test/ipw", "events" -> ev)
    val rows = SparkEntry.queries("ev_ipw")(spark, dir).collect()
      .map(r => r.getAs[Long]("stratum") -> r).toMap
    assert(rows.size == 10)
    (1L to 10L).foreach { s =>
      assert(rows(s).getAs[Long]("n_s") == 2L)
      assert(rows(s).getAs[Long]("n_t") == 1L && rows(s).getAs[Long]("n_c") == 1L)
      assert(rows(s).getAs[Long]("propensity_micro") == 500000L)
      assert(rows(s).getAs[Long]("ht_term_micro") == (if (s <= 5) 2000000L else 0L))
    }
  }

  private def f(i: Int): String = { val s = (i % 60).toString; if (s.length == 1) "0" + s else s }

  test("rec_mrr: first-rank hit and a no-candidate user; held-out items never leak") {
    // c1: train {A}, test {B}. c2: train {A,B},{A,B}, test {C}.
    // A↔B cooc=2 comes from c2's TRAIN baskets only; C appears ONLY in a
    // held-out basket, so no similarity may involve it (leakage check).
    val A = 101L; val B = 102L; val C = 103L
    val orders = Seq(
      (10L, 1L, Date.valueOf("2024-01-01")), (11L, 1L, Date.valueOf("2024-01-02")),
      (20L, 2L, Date.valueOf("2024-01-01")), (21L, 2L, Date.valueOf("2024-01-02")),
      (22L, 2L, Date.valueOf("2024-01-03")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val li = Seq((10L, A), (11L, B), (20L, A), (20L, B), (21L, A), (21L, B), (22L, C))
      .toDF("l_orderkey", "l_partkey")
    val dir = plant("/tmp/graft-test/recmrr", "orders" -> orders, "lineitem" -> li)
    val rows = SparkEntry.queries("rec_mrr")(spark, dir).collect()
      .map(r => r.getAs[Long]("customer_id") -> r).toMap
    assert(rows.size == 2)
    // c1's profile {A} fans out to B (score (2·2·1e6) div (3·2) = 666666)
    assert(rows(1L).getAs[Long]("n_test") == 1L)
    assert(rows(1L).getAs[Long]("n_hits") == 1L)
    assert(rows(1L).getAs[Long]("best_rank") == 1L)
    assert(rows(1L).getAs[Long]("rr_micro") == 1000000L)
    // c2 has seen both catalog neighbors; C was held out → no candidates
    assert(rows(2L).getAs[Long]("n_hits") == 0L)
    assert(rows(2L).isNullAt(rows(2L).fieldIndex("best_rank")))
    assert(rows(2L).getAs[Long]("rr_micro") == 0L)
  }
}
