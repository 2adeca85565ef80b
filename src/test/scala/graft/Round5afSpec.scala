package graft

/** Ground truths for the feature-store / augmentation / bloom batch:
  * a drawn-in user timeline with hand-counted PIT windows, dropout
  * membership replayed with the md5 rule, and bloom FPR invariants
  * (no false negatives by construction, plausible FPR).
  */
class Round5afSpec extends SparkSpec {

  import sqlImplicits._

  test("ev_features_pit: hand-counted trailing windows, no leakage") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-02 10:00:00"), "view", 1.0),      // only in n_events
      (2L, 1L, ts("2024-01-07 10:00:00"), "purchase", 2.5),  // in 14d
      (3L, 1L, ts("2024-01-15 10:00:00"), "click", 0.0),     // in 7d + 14d
      (4L, 1L, ts("2024-01-25 10:00:00"), "purchase", 99.0)  // AFTER cutoff: excluded
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/pit", "events" -> ev)
    val r = SparkEntry.queries("ev_features_pit")(spark, dir).collect().head
    assert(r.getAs[Long]("n_events") == 3L)
    assert(r.getAs[Long]("n_7d") == 1L)
    assert(r.getAs[Long]("n_14d") == 2L)
    assert(r.getAs[Long]("spend_c") == 350L) // leakage would add 9900
    assert(r.getAs[Long]("n_purchases") == 1L)
    assert(r.getAs[Long]("recency_s") == (4L * 24 + 14) * 3600) // Jan 15 10:00 → Jan 20 00:00
  }

  test("ta_token_dropout: kept tokens replay the 0-based md5 rule") {
    val docs = Seq((9L, "a b c d e f g h i j k l m n o p q r s t"))
      .toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/dropout", "documents" -> docs)
    val r = SparkEntry.queries("ta_token_dropout")(spark, dir).collect().head
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val toks = "a b c d e f g h i j k l m n o p q r s t".split(" ")
    val kept = toks.zipWithIndex.collect {
      case (t, i) if !md5hex(s"do:9:$i").startsWith("0") => t
    }
    assert(r.getAs[Long]("n_tokens") == 20L)
    assert(r.getAs[Long]("n_kept") == kept.length.toLong)
    assert(r.getAs[String]("aug_text") == kept.mkString(" "))
  }

  test("sk_bloom_fpr: inserted keys always hit; absent-probe FPR is small") {
    val ord = (1L to 2000L).map(Tuple1(_)).toDF("o_orderkey")
    val dir = plant("/tmp/graft-test/bloomfpr", "orders" -> ord)
    val r = SparkEntry.queries("sk_bloom_fpr")(spark, dir).collect().head
    assert(r.getAs[Long]("n_keys") == 2000L)
    assert(r.getAs[Long]("n_probes") == 2000L)
    // 2 × 2000 bits in 2²¹ → expected FPR ≈ (2·2000/2²¹)² ≈ 3.6e-6;
    // allow generous slack but catch an always-hit bug
    assert(r.getAs[Long]("fpr_micro") < 10000L)
    assert(r.getAs[Long]("n_false_pos") < 20L)
  }
}
