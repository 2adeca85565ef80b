package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-data ground truths for the fourth round-5 batch: lead-lag
  * cross-correlation (proportional series → r ≈ 1 at lag 0, exact pair
  * counts), n-gram novelty (hand-counted first appearances), golden
  * records (nation blocking splits identical names; survivorship rules),
  * phrase search (known top bigram, occurrence counts and positions).
  */
class Round5dSpec extends SparkSpec {

  import sqlImplicits._


  test("q_xcorr: value = 10^6 × volume → r ≈ 1 at every lag; exact pair counts") {
    // day i (i = 1..8) has i events of value $100 → y(d) = 10^6·x(d)
    val rows = for { d <- 1 to 8; _ <- 1 to d } yield
      (java.sql.Timestamp.valueOf(f"2024-02-$d%02d 12:00:00"), 100.0)
    val dir = plant("/tmp/graft-test/xcorr", "events" -> rows.toDF("ts", "value"))
    val out = SparkEntry.queries("q_xcorr")(spark, dir)
      .collect().map(r => r.getAs[Int]("lag_k") -> r).toMap
    assert(out.size == 7)
    assert(out(0).getAs[Long]("n_pairs") == 8L)
    assert(out(1).getAs[Long]("n_pairs") == 7L && out(-1).getAs[Long]("n_pairs") == 7L)
    assert(out(3).getAs[Long]("n_pairs") == 5L && out(-3).getAs[Long]("n_pairs") == 5L)
    // y is an exact scalar multiple of x on every aligned pair set, so
    // Pearson r is 1 up to two correctly-rounded sqrts
    out.values.foreach(r => assert(math.abs(r.getAs[Double]("r") - 1.0) < 1e-12))
  }

  test("ta_novelty: hand-counted first appearances per doc") {
    val docs = Seq(
      (1L, "a b c d"), // {a b c, b c d} both first here → 10^6
      (2L, "a b c x"), // {a b c (doc 1), b c x (novel)} → 500000
      (3L, "a b c d")  // exact repeat → 0
    ).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/novelty", "documents" -> docs)
    val out = SparkEntry.queries("ta_novelty")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 3)
    assert(out(1L).getAs[Long]("n_grams") == 2L && out(1L).getAs[Long]("novelty_micro") == 1000000L)
    assert(out(2L).getAs[Long]("n_novel") == 1L && out(2L).getAs[Long]("novelty_micro") == 500000L)
    assert(out(3L).getAs[Long]("n_novel") == 0L && out(3L).getAs[Long]("novelty_micro") == 0L)
  }

  test("er_golden: nation blocking splits identical names; survivorship rules") {
    val cust = Seq(
      (1L, "alice", 1L, 10.0, "A"),
      (2L, "alicf", 1L, 20.0, "B"), // dist 1 from alice, same nation → linked
      (3L, "alice", 2L, 30.0, "A"), // same name, other nation → NOT linked
      (4L, "bob", 1L, 40.0, "A")
    ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val dir = plant("/tmp/graft-test/golden", "customer" -> cust)
    val out = SparkEntry.queries("er_golden")(spark, dir)
      .collect().map(r => r.getAs[Long]("entity_id") -> r).toMap
    assert(out.size == 3)
    val e1 = out(1L)
    assert(e1.getAs[Long]("n_members") == 2L)
    assert(e1.getAs[Long]("rep_custkey") == 1L && e1.getAs[String]("rep_name") == "alice")
    assert(e1.getAs[Long]("max_acctbal_c") == 2000L && e1.getAs[Long]("n_segments") == 2L)
    assert(out(3L).getAs[Long]("n_members") == 1L)
    assert(out(4L).getAs[Long]("n_members") == 1L)
  }

  test("dd_lsh_planner: S-curve values, monotonicity, and band-tightness ordering") {
    val dir = plant("/tmp/graft-test/lshplan",
      "documents" -> Seq((1L, "unused")).toDF("doc_id", "text"))
    val out = SparkEntry.queries("dd_lsh_planner")(spark, dir)
      .collect().map(r => r.getAs[Int]("s_pct") -> r).toMap
    assert(out.size == 19)
    // exact value at s = 0.5 for (b=16, r=4), replayed with scalar doubles
    val s4 = ((0.5 * 0.5) * 0.5) * 0.5
    var q = 1.0 - s4
    for (_ <- 1 to 4) q = q * q
    assert(out(50).getAs[Double]("p_b16_r4") == 1.0 - q)
    // monotone in s; (b=8, r=8) is the tighter curve at low similarity
    val ps = (5 to 95 by 5).map(s => out(s).getAs[Double]("p_b16_r4"))
    assert(ps == ps.sorted)
    assert(out(5).getAs[Double]("p_b16_r4") < 0.001 && out(95).getAs[Double]("p_b16_r4") > 0.999)
    assert(out(30).getAs[Double]("p_b8_r8") < out(30).getAs[Double]("p_b16_r4"))
  }

  test("q_ks: exact-uniform prices give D+ = D− = 1/n at the truncated grid") {
    // prices $1..$10 → F jumps lag the ECDF by exactly one rank step
    val orders = (1 to 10).map(i => (i.toLong, i.toDouble))
      .toDF("o_orderkey", "o_totalprice")
    val dir = plant("/tmp/graft-test/ks", "orders" -> orders)
    val out = SparkEntry.queries("q_ks")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Long]("d_plus_micro") == 100000L)
    assert(r.getAs[Long]("d_minus_micro") == 100000L)
    assert(r.getAs[Long]("d_micro") == 100000L)
  }

  test("q_gini: perfect equality → 0; 25/75 two-customer split → 250000") {
    val eq = (1 to 4).map(i => (i.toLong, i.toLong, 50.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val d1 = plant("/tmp/graft-test/gini1", "orders" -> eq)
    val g1 = SparkEntry.queries("q_gini")(spark, d1).collect().head
    assert(g1.getAs[Long]("n") == 4L && g1.getAs[Long]("gini_micro") == 0L)

    val uneq = Seq((1L, 1L, 100.0), (2L, 2L, 300.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val d2 = plant("/tmp/graft-test/gini2", "orders" -> uneq)
    val g2 = SparkEntry.queries("q_gini")(spark, d2).collect().head
    // ranks (1,2)·(10000,30000): G = (2·70000 − 3·40000)/(2·40000) = 0.25
    assert(g2.getAs[Long]("n") == 2L && g2.getAs[Long]("gini_micro") == 250000L)
  }

  test("ta_langid_eval: confusion counts and row shares on planted bilingual docs") {
    val docs = Seq(
      (1L, "the cat and the dog is on the mat", "en"),
      (2L, "this is the best of all the things", "en"),
      (3L, "le chat et la vache est dans le jardin", "fr")
    ).toDF("doc_id", "text", "lang")
    val dir = plant("/tmp/graft-test/lideval", "documents" -> docs)
    val out = SparkEntry.queries("ta_langid_eval")(spark, dir)
      .collect().map(r => (r.getAs[String]("lang_truth"), r.getAs[String]("lang_guess")) -> r).toMap
    assert(out.size == 2)
    assert(out(("en", "en")).getAs[Long]("n") == 2L)
    assert(out(("en", "en")).getAs[Long]("share_micro") == 1000000L)
    assert(out(("fr", "fr")).getAs[Long]("n") == 1L)
    assert(out(("fr", "fr")).getAs[Long]("share_micro") == 1000000L)
  }

  test("ev_dau_mau: hand-computed trailing-30 stickiness") {
    // day 1: {1,2}, day 2: {2}, day 3: {3} → MAU windows accumulate:
    // d1: 2/2 = 1e6, d2: 1/2 = 500000, d3: 1/3 = 333333
    val rows = Seq((1L, "2024-03-01"), (2L, "2024-03-01"), (2L, "2024-03-02"), (3L, "2024-03-03"))
      .map { case (u, d) => (u, java.sql.Timestamp.valueOf(s"$d 10:00:00")) }
    val dir = plant("/tmp/graft-test/daumau", "events" -> rows.toDF("user_id", "ts"))
    val out = SparkEntry.queries("ev_dau_mau")(spark, dir)
      .collect().map(r => r.getAs[java.sql.Date]("d").toString -> r).toMap
    assert(out.size == 3)
    assert(out("2024-03-01").getAs[Long]("dau") == 2L && out("2024-03-01").getAs[Long]("stickiness_micro") == 1000000L)
    assert(out("2024-03-02").getAs[Long]("mau") == 2L && out("2024-03-02").getAs[Long]("stickiness_micro") == 500000L)
    assert(out("2024-03-03").getAs[Long]("mau") == 3L && out("2024-03-03").getAs[Long]("stickiness_micro") == 333333L)
  }

  test("q_corr: perfectly correlated / anti-correlated planted columns") {
    // quantity = i, price = i dollars (r = +1), discount = (5−i) bp
    // (r = −1 vs quantity), tax varies non-monotonically
    val li = (1 to 4).map(i =>
      (i.toDouble, i.toDouble, 0.0001 * (5 - i), 0.0001 * (i % 2 + 1)))
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val dir = plant("/tmp/graft-test/corr", "lineitem" -> li)
    val out = SparkEntry.queries("q_corr")(spark, dir)
      .collect().map(r => (r.getAs[String]("var_a"), r.getAs[String]("var_b")) -> r).toMap
    assert(out.size == 6)
    assert(math.abs(out(("quantity", "price_c")).getAs[Double]("r") - 1.0) < 1e-12)
    assert(math.abs(out(("quantity", "discount_bp")).getAs[Double]("r") + 1.0) < 1e-12)
  }

  test("sim_medoid: the central vector wins; ties break to the lower id") {
    val emb = Seq(
      (10L, Seq(2f, 0f), 1), (11L, Seq(1f, 0f), 1), (12L, Seq(1f, 0f), 1),
      (20L, Seq(0f, 1f), 2), (21L, Seq(0f, 1f), 2)
    ).toDF("vec_id", "embedding", "label")
    val dir = plant("/tmp/graft-test/medoid", "embeddings" -> emb)
    val out = SparkEntry.queries("sim_medoid")(spark, dir)
      .collect().map(r => r.getAs[Int]("label") -> r).toMap
    assert(out.size == 2)
    // label 1: id 10 scores 2+2 = 4e6 vs 3e6 for the unit vectors
    assert(out(1).getAs[Long]("medoid_id") == 10L)
    assert(out(1).getAs[Long]("score_micro") == 4000000L && out(1).getAs[Long]("n_mates") == 2L)
    // label 2: identical scores → lower id wins
    assert(out(2).getAs[Long]("medoid_id") == 20L)
  }

  test("q_mi: zero for the independent table, ln 2 micro-nats for perfect dependence") {
    val cust = Seq((1L, "X"), (2L, "Y")).toDF("c_custkey", "c_mktsegment")
    val indep = Seq(
      (1L, "F"), (1L, "F"), (1L, "O"), (1L, "O"),
      (2L, "F"), (2L, "F"), (2L, "O"), (2L, "O")).toDF("o_custkey", "o_orderstatus")
    val d1 = plant("/tmp/graft-test/mi1", "customer" -> cust, "orders" -> indep)
    assert(SparkEntry.queries("q_mi")(spark, d1).collect().head.getAs[Long]("mi_micro") == 0L)

    // X only 'F', Y only 'O' → MI = ln 2: each cell O·N/R·C = 2, and
    // round(ln 32·10⁶) − round(ln 16·10⁶) = 693147 survives the div
    val dep = Seq((1L, "F"), (1L, "F"), (1L, "F"), (1L, "F"),
      (2L, "O"), (2L, "O"), (2L, "O"), (2L, "O")).toDF("o_custkey", "o_orderstatus")
    val d2 = plant("/tmp/graft-test/mi2", "customer" -> cust, "orders" -> dep)
    assert(SparkEntry.queries("q_mi")(spark, d2).collect().head.getAs[Long]("mi_micro") == 693147L)
  }

  test("ta_readability: hand-counted words, sentence runs, vowel groups") {
    val docs = Seq((1L, "Hello world. Nice day!")).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/read", "documents" -> docs)
    val r = SparkEntry.queries("ta_readability")(spark, dir).collect().head
    assert(r.getAs[Long]("n_words") == 4L)
    assert(r.getAs[Long]("n_sentences") == 2L)
    assert(r.getAs[Long]("n_syllables") == 6L) // e,o | o | i,e | ay
    assert(r.getAs[Long]("words_per_sentence_micro") == 2000000L)
    assert(r.getAs[Long]("syllables_per_word_micro") == 1500000L)
  }

  test("sk_incremental: trimmed merge equals the full sketch past k; exact below k") {
    // source "big": 400 docs split 250/150 → both halves contribute,
    // merged bottom-256 must equal the full-corpus bottom-256;
    // source "small": 30 docs → not-full path, estimate exact
    val docs = ((0 until 400).map(i => (i.toLong, "big")) ++
      (1000 until 1030).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val dir = plant("/tmp/graft-test/skinc", "documents" -> docs)
    val out = SparkEntry.queries("sk_incremental")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out.size == 2)
    assert(out("big").getAs[Long]("n_merged") == 256L)
    assert(out("big").getAs[Boolean]("equal_full"))
    val est = out("big").getAs[Long]("kmv_est_merged")
    assert(est > 300L && est < 520L, s"est $est outside band")
    assert(out("small").getAs[Long]("n_merged") == 30L)
    assert(out("small").getAs[Long]("kmv_est_merged") == 30L)
    assert(out("small").getAs[Boolean]("equal_full"))
  }

  test("dd_eval: identical anchor/pool doc is found by both sides → perfect P/R") {
    // doc 37 is the anchor (37 % 37 = 0); doc 1 is its exact duplicate
    // (gram Jaccard 1, identical minhash sig); doc 3 overlaps 1/5 grams
    // (below both thresholds); doc 2 is unrelated
    val docs = Seq(
      (37L, "a b c d e"), (1L, "a b c d e"),
      (3L, "a b c q r"), (2L, "z y x w v")
    ).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/ddeval", "documents" -> docs)
    val out = SparkEntry.queries("dd_eval")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_anchors") == 1L)
    assert(r.getAs[Long]("tp") == 1L && r.getAs[Long]("fp") == 0L && r.getAs[Long]("fn") == 0L)
    assert(r.getAs[Long]("precision_micro") == 1000000L)
    assert(r.getAs[Long]("recall_micro") == 1000000L)
  }

  test("srch_phrase: top bigram found with counts and first positions") {
    val docs = Seq(
      (1L, "x y x y"), // "x y" at 0 and 2
      (2L, "x y z"),   // "x y" at 0
      (3L, "q r")
    ).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/phrase", "documents" -> docs)
    val out = SparkEntry.queries("srch_phrase")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 2)
    out.values.foreach(r => assert(r.getAs[String]("phrase") == "x y"))
    assert(out(1L).getAs[Long]("n_occ") == 2L && out(1L).getAs[Long]("first_pos") == 0L)
    assert(out(2L).getAs[Long]("n_occ") == 1L && out(2L).getAs[Long]("first_pos") == 0L)
  }
}
