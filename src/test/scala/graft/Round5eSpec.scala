package graft

import org.apache.spark.sql.functions._

/** Planted-data ground truths for the fifth round-5 batch: tie-aware
  * Mann–Whitney AUC (hand-enumerated pair wins + a half-credit tie),
  * Benford first-digit audit (hand-built digit counts against the nine
  * micro-log10 literals), and item-item collaborative filtering
  * (hand-counted co-purchase cosines, support floor, width-cap
  * exclusion of a giant basket).
  */
class Round5eSpec extends SparkSpec {

  import sqlImplicits._

  private val ts0 = java.sql.Timestamp.valueOf("2024-02-01 12:00:00")

  test("q_auc: hand-enumerated pairs — 3 wins + 1 tie over 2x2 = 875000 micro") {
    // u1: score 3, purchaser; u2: score 1, not; u3: score 2, purchaser;
    // u4: score 2, not. Pairs (pos, neg): (3,1) win, (3,2) win, (2,1)
    // win, (2,2) tie → AUC = 3.5/4; doubled numerator 7.
    val rows = Seq(
      (1L, "view"), (1L, "view"), (1L, "click"), (1L, "purchase"),
      (2L, "view"),
      (3L, "click"), (3L, "click"), (3L, "purchase"),
      (4L, "view"), (4L, "view"), (4L, "error")
    ).map { case (u, t) => (u, t, ts0) }
    val dir = plant("/tmp/graft-test/auc",
      "events" -> rows.toDF("user_id", "event_type", "ts"))
    val out = SparkEntry.queries("q_auc")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 2L)
    assert(r.getAs[Long]("u_doubled") == 7L)
    assert(r.getAs[Long]("auc_micro") == 875000L)
  }

  test("q_auc: perfect separation gives exactly 10^6") {
    val rows = Seq(
      (1L, "view"), (1L, "view"), (1L, "purchase"),
      (2L, "error")
    ).map { case (u, t) => (u, t, ts0) }
    val dir = plant("/tmp/graft-test/auc2",
      "events" -> rows.toDF("user_id", "event_type", "ts"))
    val r = SparkEntry.queries("q_auc")(spark, dir).collect().head
    assert(r.getAs[Long]("auc_micro") == 1000000L)
  }

  test("q_benford: hand-built digit counts vs the nine micro literals") {
    // 6 orders in the 100-199 cent band (digit 1), 3 in the 200-299
    // band (digit 2): n=9, E1 = 9·301030, E2 = 9·176091.
    val prices = Seq(1.00, 1.23, 1.50, 1.77, 1.99, 1.01, 2.00, 2.50, 2.99)
    val dir = plant("/tmp/graft-test/benford",
      "orders" -> prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("o_orderkey", "o_totalprice"))
    val out = SparkEntry.queries("q_benford")(spark, dir)
      .collect().map(r => r.getAs[Long]("digit") -> r).toMap
    assert(out.size == 2)
    def cell(obs: Long, eMicro: Long): Long =
      ((BigInt(obs * 1000000L - eMicro) * BigInt(obs * 1000000L - eMicro)) / eMicro).toLong
    val e1 = 9L * 301030L
    val e2 = 9L * 176091L
    assert(out(1L).getAs[Long]("observed") == 6L)
    assert(out(1L).getAs[Long]("expected_micro") == e1)
    assert(out(1L).getAs[Long]("chi2_cell_micro") == cell(6L, e1))
    assert(out(2L).getAs[Long]("observed") == 3L)
    assert(out(2L).getAs[Long]("chi2_cell_micro") == cell(3L, e2))
  }

  test("rec_itemitem: hand-counted cosines, support floor, giant-basket cap") {
    // baskets: {1,2} ×2, {1,3} ×2, {2,3} ×1 (below support floor), plus
    // one 65-part giant basket that must be EXCLUDED by the width cap
    // (it would otherwise give parts 10 and 11 a cooc-1 pair — also
    // below floor — and inflate every frequency it touches).
    val base = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L), (4L, 1L), (4L, 3L),
      (5L, 2L), (5L, 3L))
    val giant = (10L to 74L).map(p => (6L, p))
    val dir = plant("/tmp/graft-test/itemitem",
      "lineitem" -> (base ++ giant).toDF("l_orderkey", "l_partkey"))
    val out = SparkEntry.queries("rec_itemitem")(spark, dir).collect()
    // freq: p1=4, p2=3, p3=3; pairs ≥2: (1,2) cooc 2, (1,3) cooc 2
    // score(1↔2) = 4e6 div 12 = 333333 = score(1↔3) → p1's tie breaks
    // by neighbor id; giant-basket parts appear nowhere
    val byKey = out.map(r => (r.getAs[Long]("part_id"), r.getAs[Long]("rnk")) -> r).toMap
    assert(out.length == 4)
    assert(out.forall(_.getAs[Long]("part_id") < 10L))
    assert(byKey((1L, 1L)).getAs[Long]("rec_part_id") == 2L)
    assert(byKey((1L, 2L)).getAs[Long]("rec_part_id") == 3L)
    assert(byKey((1L, 1L)).getAs[Long]("score_micro") == 333333L)
    assert(byKey((2L, 1L)).getAs[Long]("rec_part_id") == 1L)
    assert(byKey((3L, 1L)).getAs[Long]("rec_part_id") == 1L)
    assert(out.forall(_.getAs[Long]("cooc") == 2L))
  }

  test("q_bitmap: hand-packed words, popcounts, and the overlap AND") {
    // view: users 1, 2 (word 0) and 33 (word 1); purchase: 1 (word 0)
    // and 40 (word 1). Overlap: word 0 shares user 1; word 1 shares none.
    val rows = Seq(
      (1L, "view"), (2L, "view"), (33L, "view"),
      (1L, "purchase"), (40L, "purchase")
    ).map { case (u, t) => (u, t, ts0) }
    val dir = plant("/tmp/graft-test/bitmap",
      "events" -> rows.toDF("user_id", "event_type", "ts"))
    val out = SparkEntry.queries("q_bitmap")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.size == 3)
    assert(out("view").getAs[Long]("n_words") == 2L)
    assert(out("view").getAs[Long]("n_users") == 3L)
    assert(out("purchase").getAs[Long]("n_words") == 2L)
    assert(out("purchase").getAs[Long]("n_users") == 2L)
    assert(out("view&purchase").getAs[Long]("n_words") == 2L)
    assert(out("view&purchase").getAs[Long]("n_users") == 1L)
  }

  test("ev_seqmine: only the trigram two users share survives the floor") {
    def ev(id: Long, u: Long, day: Int, t: String) =
      (id, u, java.sql.Timestamp.valueOf(f"2024-02-$day%02d 12:00:00"), t)
    val rows = Seq(
      ev(1, 1, 1, "view"), ev(2, 1, 2, "click"), ev(3, 1, 3, "purchase"), ev(4, 1, 4, "view"),
      ev(5, 2, 1, "view"), ev(6, 2, 2, "click"), ev(7, 2, 3, "purchase"),
      ev(8, 3, 1, "click"), ev(9, 3, 2, "view"))
    val dir = plant("/tmp/graft-test/seqmine",
      "events" -> rows.toDF("event_id", "user_id", "ts", "event_type"))
    val out = SparkEntry.queries("ev_seqmine")(spark, dir).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("trigram") == "view>click>purchase")
    assert(out.head.getAs[Long]("n_users") == 2L)
    assert(out.head.getAs[Long]("n_occurrences") == 2L)
  }

  test("ev_survival: hand-folded two-step curve with an exact censoring") {
    // all four users start day 1; u1, u2 convert day 3 (dur 2), u4
    // converts day 6 (dur 5), u3 never converts → censored at the
    // horizon (u4's purchase) with dur 5 exactly
    def ev(id: Long, u: Long, day: Int, t: String) =
      (id, u, java.sql.Timestamp.valueOf(f"2024-02-$day%02d 12:00:00"), t)
    val rows = Seq(
      ev(1, 1, 1, "view"), ev(2, 1, 3, "purchase"),
      ev(3, 2, 1, "view"), ev(4, 2, 3, "purchase"),
      ev(5, 3, 1, "view"),
      ev(6, 4, 1, "view"), ev(7, 4, 6, "purchase"))
    val dir = plant("/tmp/graft-test/survival",
      "events" -> rows.toDF("event_id", "user_id", "ts", "event_type"))
    val out = SparkEntry.queries("ev_survival")(spark, dir)
      .collect().map(r => r.getAs[Long]("day") -> r).toMap
    assert(out.size == 2)
    assert(out(2L).getAs[Long]("n_risk") == 4L && out(2L).getAs[Long]("n_events") == 2L)
    assert(out(2L).getAs[Long]("surv_pico") == 500000000000L)
    assert(out(5L).getAs[Long]("n_risk") == 2L && out(5L).getAs[Long]("n_events") == 1L)
    assert(out(5L).getAs[Long]("n_censored") == 1L)
    assert(out(5L).getAs[Long]("surv_pico") == 250000000000L)
  }

  test("ta_rake: hand-scored degree/freq phrases") {
    // doc 1 phrases: {deep learning} ×2, {neural networks}; doc 2: the
    // lone {networks} drags networks' score to 3/2 while deep/learning
    // stay at degree/freq = 2
    val docs = Seq(
      (1L, "Deep learning of the neural networks. Deep learning!"),
      (2L, "networks")
    ).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/rake", "documents" -> docs)
    val out = SparkEntry.queries("ta_rake")(spark, dir)
      .collect().map(r => r.getAs[String]("phrase") -> r).toMap
    assert(out.size == 3)
    assert(out("deep learning").getAs[Long]("score_micro") == 4000000L)
    assert(out("deep learning").getAs[Long]("n_occurrences") == 2L)
    assert(out("deep learning").getAs[Long]("n_words") == 2L)
    assert(out("neural networks").getAs[Long]("score_micro") == 3500000L)
    assert(out("networks").getAs[Long]("score_micro") == 1500000L)
  }

  test("q_abc: 80/15/5 revenue lands exactly on the A/B boundaries") {
    val li = Seq((1L, 80.00), (2L, 15.00), (3L, 5.00))
      .toDF("l_partkey", "l_extendedprice")
    val dir = plant("/tmp/graft-test/abc", "lineitem" -> li)
    val out = SparkEntry.queries("q_abc")(spark, dir)
      .collect().map(r => r.getAs[String]("abc_class") -> r).toMap
    assert(out.size == 3)
    assert(out("A").getAs[Long]("n_parts") == 1L && out("A").getAs[Long]("revenue_c") == 8000L)
    assert(out("A").getAs[Long]("share_micro") == 800000L)
    assert(out("B").getAs[Long]("revenue_c") == 1500L)
    assert(out("C").getAs[Long]("revenue_c") == 500L)
  }

  test("stream_bitmap: streamed bit_or equals the hand-packed batch words") {
    val rows = Seq(
      (1L, "view"), (2L, "view"), (33L, "view"),
      (1L, "purchase"), (40L, "purchase")
    ).map { case (u, t) => (u, t, ts0) }
    val dir = plant("/tmp/graft-test/streambitmap",
      "events" -> rows.toDF("user_id", "event_type", "ts"))
    val out = SparkEntry.queries("stream_bitmap")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.size == 2)
    assert(out("view").getAs[Long]("n_words") == 2L && out("view").getAs[Long]("n_users") == 3L)
    assert(out("purchase").getAs[Long]("n_users") == 2L)
  }
}
