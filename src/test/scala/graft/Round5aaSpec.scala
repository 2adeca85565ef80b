package graft

import java.sql.Date

/** Ground truths for the forecast/content-filter/search-eval batch:
  * Croston smoothing replayed with the same integer kernel math in
  * Scala, a hand-scored blocklist doc, and nDCG@10 invariants on the
  * real sf0.001 corpus.
  */
class Round5aaSpec extends SparkSpec {

  import sqlImplicits._

  test("q_croston: occurrence-index kernel smoothing matches integer replay") {
    val li = Seq(
      (211L, Date.valueOf("2024-01-01"), 4.0),
      (211L, Date.valueOf("2024-01-04"), 2.0),
      (211L, Date.valueOf("2024-01-05"), 6.0),
      (7L, Date.valueOf("2024-01-02"), 99.0) // not in the 1-in-211 slice
    ).toDF("l_partkey", "l_shipdate", "l_quantity")
    val dir = plant("/tmp/graft-test/croston", "lineitem" -> li)
    val rows = SparkEntry.queries("q_croston")(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))

    // replay: z = (4, 2, 6), gaps = (1, 3, 1), kernel w_j per lag j
    val w = Seq(200000L, 160000L, 128000L)
    val z = Seq(4L, 2L, 6L); val gap = Seq(1L, 3L, 1L)
    for (k <- 1 to 3) {
      val terms = (0 until k).map(j => (w(j), z(k - 1 - j), gap(k - 1 - j)))
      val sw = terms.map(_._1).sum
      val zHat = terms.map(t => t._1 * t._2).sum * 1000000L / sw
      val pHat = terms.map(t => t._1 * t._3).sum * 1000000L / sw
      val r = rows(k.toLong)
      assert(r.getAs[Long]("z") == z(k - 1) && r.getAs[Long]("gap") == gap(k - 1))
      assert(r.getAs[Long]("z_hat_micro") == zHat, s"k=$k z_hat")
      assert(r.getAs[Long]("p_hat_micro") == pHat, s"k=$k p_hat")
      assert(r.getAs[Long]("croston_micro") == zHat * 1000000L / pHat, s"k=$k croston")
    }
  }

  test("ta_blocklist: hand-scored docs") {
    val docs = Seq(
      (1L, "slow slow big x"),   // 3+3+1 over 4 tokens
      (2L, "nice clean prose"),  // no hits
      (3L, "crash")              // 5 over 1 token
    ).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/blocklist", "documents" -> docs)
    val rows = SparkEntry.queries("ta_blocklist")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Long]("score") == 7L)
    assert(rows(1L).getAs[Long]("tox_micro") == 1750000L)
    assert(rows(1L).getAs[Boolean]("flagged"))
    assert(rows(2L).getAs[Long]("score") == 0L && !rows(2L).getAs[Boolean]("flagged"))
    assert(rows(3L).getAs[Long]("tox_micro") == 5000000L)
  }

  test("srch_ndcg: one row, ndcg in (0, 1e6], idcg dominates dcg") {
    val rows = SparkEntry.queries("srch_ndcg")(spark, sf0001).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("k") == 10L)
    val dcg = r.getAs[Long]("dcg_micro"); val idcg = r.getAs[Long]("idcg_micro")
    val ndcg = r.getAs[Long]("ndcg_micro")
    assert(dcg > 0L && idcg >= dcg)
    assert(ndcg > 0L && ndcg <= 1000000L)
    assert(ndcg == dcg * 1000000L / idcg)
  }
}
