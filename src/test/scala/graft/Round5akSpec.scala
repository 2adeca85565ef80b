package graft

/** Ground truths for the Shapley / random-projection / fertility batch:
  * a two-coalition design whose Shapley values are computed on paper, a
  * JL norm audit against an independent matrix replay, and fertility on
  * a hand-counted doc.
  */
class Round5akSpec extends SparkSpec {

  import sqlImplicits._

  test("ev_shapley: symmetry and efficiency on a planted design") {
    // 4 users: {view}→conv, {view}→no, {click}→conv, {view,click}→conv
    val ev = Seq(
      (1L, 1L, "view", true), (2L, 2L, "view", false),
      (3L, 3L, "click", true), (4L, 4L, "view", true), (5L, 4L, "click", true)
    ).flatMap { case (e, u, ty, conv) =>
      val touch = Seq((e * 10, u, ts("2024-01-01 10:00:00"), ty, 1.0))
      if (conv) touch :+ ((e * 10 + 1, u, ts("2024-01-01 11:00:00"), "purchase", 1.0))
      else touch
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/shapley", "events" -> ev)
    val rows = SparkEntry.queries("ev_shapley")(spark, dir).collect()
      .map(r => r.getAs[String]("channel") -> r.getAs[Long]("phi_micro")).toMap
    // v({view}) = 500000 (1 of 2), v({click}) = 1e6, v({view,click}) = 1e6,
    // v(∅ and signup coalitions) = 0
    // φ_view  = 2/6·v(v) + 1/6·(v(vc) − v(c)) = 166666 + 0 = 166666
    // φ_click = 2/6·v(c) + 1/6·(v(vc) − v(v)) = 333333 + 83333 = 416666
    assert(rows("view") == (2L * 500000) / 6 + (1000000L - 1000000L) / 6)
    assert(rows("click") == (2L * 1000000) / 6 + (1000000L - 500000L) / 6)
    // signup only appears in UNOBSERVED coalitions (v = 0), so its
    // marginals are negative: −500000/6 − 1000000/6 − 2·1000000/6
    assert(rows("signup") == -500000L / 6 - 1000000L / 6 - 2L * 1000000 / 6)
  }

  test("sim_rproj: norm audit matches an independent matrix replay") {
    val v = Array.tabulate(64)(i => (i % 5 - 2).toFloat) // some negatives
    val emb = Seq((1L, v)).toDF("vec_id", "embedding")
    val dir = plant("/tmp/graft-test/rproj", "embeddings" -> emb)
    val r = SparkEntry.queries("sim_rproj")(spark, dir).collect().head

    def md5b(s: String) =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val signs = Array.tabulate(8, 64)((j, i) =>
      if (((md5b(s"rp:$j:$i")(0) >> 4) & 0xf) < 8) 1.0 else -1.0)
    var nn = 0.0
    for (i <- 0 until 64) nn += v(i).toDouble * v(i).toDouble
    val ps = (0 until 8).map { j =>
      var p = 0.0; for (i <- 0 until 64) p += signs(j)(i) * v(i).toDouble; p
    }
    var pn8acc = 0.0
    ps.foreach(p => pn8acc += p * p)
    val pn8 = pn8acc / 8.0
    assert(r.getAs[Long]("nn_micro") == math.round(nn * 1000000))
    assert(r.getAs[Long]("pn8_micro") == math.round(pn8 * 1000000))
    assert(r.getAs[Long]("ratio_micro") == math.round(pn8 / nn * 1000000))
    // JL sanity: the ratio concentrates around 1 (generous band)
    assert(r.getAs[Long]("ratio_micro") > 100000L && r.getAs[Long]("ratio_micro") < 10000000L)
  }

  test("ta_fertility: hand-counted doc") {
    val docs = Seq((1L, "en", "ab cd-ef g")).toDF("doc_id", "lang", "text")
    val dir = plant("/tmp/graft-test/fertility", "documents" -> docs)
    val r = SparkEntry.queries("ta_fertility")(spark, dir).collect().head
    // whitespace words: ab, cd-ef, g → 3; bpeish: ab, cd, -, ef, g → 5;
    // chars: 10
    assert(r.getAs[Long]("bpeish") == 5L)
    assert(r.getAs[Long]("chars") == 10L)
    assert(r.getAs[Long]("chars_per_tok_micro") == 2000000L)
    assert(r.getAs[Long]("fertility_micro") == 5000000L / 3)
  }
}
