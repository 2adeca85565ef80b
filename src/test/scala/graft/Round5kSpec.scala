package graft

import org.apache.spark.sql.functions._

/** Ground truths for the eleventh round-5 batch: TF-IDF on a two-doc
  * corpus with hand-derived ln 2 idf, mutual-kNN pairs against an
  * in-test brute-force reimplementation over planted vectors, and the
  * Bollinger breakout predicate at its algebraic boundary (83.3 over
  * an 81.6 band).
  */
class Round5kSpec extends SparkSpec {

  import sqlImplicits._

  test("ta_tfidf: two-doc corpus with idf = ln 2 micro") {
    val docs = Seq((1L, "a a b", "x"), (2L, "b c", "x")).toDF("doc_id", "text", "source")
    val dir = plant("/tmp/graft-test/tfidf", "documents" -> docs)
    val out = SparkEntry.queries("ta_tfidf")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("idf_micro"),
          r.getAs[Long]("score_micro"))).toMap
    val ln2 = math.round(math.log(2.0) * 1e6) // 693147
    assert(out((1L, 1L)) == (("a", 2L, ln2, 2 * ln2)))
    assert(out((1L, 2L)) == (("b", 1L, 0L, 0L)))
    assert(out((2L, 1L)) == (("c", 1L, ln2, ln2)))
    assert(out((2L, 2L)) == (("b", 1L, 0L, 0L)))
  }

  test("sim_reciprocal: mutual top-5 pairs equal an in-test brute force") {
    val vecs = (0 until 8).map { i =>
      (i.toLong, Array(((i + 1) % 5).toFloat, ((i * 7) % 5).toFloat,
        ((i * 3) % 4 + 1).toFloat), 0)
    }
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val dir = plant("/tmp/graft-test/recip", "embeddings" -> emb)
    val got = SparkEntry.queries("sim_reciprocal")(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("rank_ab"), r.getAs[Long]("rank_ba"))).toSet
    // reference: plain Scala cosine + rank
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (j <- a.indices) { d += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vecs.map(v => v._1 -> v._2).toMap
    val topk = byId.keys.map { q =>
      q -> byId.keys.filter(_ != q).toSeq
        .sortBy(n => (-cos(byId(q), byId(n)), n)).take(5).zipWithIndex
        .map { case (n, i) => n -> (i + 1).toLong }.toMap
    }.toMap
    val want = (for {
      a <- byId.keys; b <- byId.keys if a < b
      ra <- topk(a).get(b); rb <- topk(b).get(a)
    } yield (a, b, ra, rb)).toSet
    assert(want.nonEmpty && got == want)
  }

  test("q_bollinger: spike just past the 2-sigma band flags break_upper") {
    val li = (1 to 5).map(dd => (ts(s"2024-01-0$dd 00:00:00"), 1.00)) :+
      ((ts("2024-01-06 00:00:00"), 2.00))
    val dir = plant("/tmp/graft-test/boll",
      "lineitem" -> li.toDF("l_shipdate", "l_extendedprice"))
    val out = SparkEntry.queries("q_bollinger")(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("d").toString -> r).toMap
    assert(out.size == 6)
    assert(!out("2024-01-01").getAs[Boolean]("break_upper")) // n = 1 guard
    assert(!out("2024-01-05").getAs[Boolean]("break_upper")) // zero variance
    val spike = out("2024-01-06")
    // LHS (6·200−700)²·5 = 1 250 000 > RHS 4·6·(6·90 000−490 000) = 1 200 000
    assert(spike.getAs[Boolean]("break_upper"))
    assert(!spike.getAs[Boolean]("break_lower"))
    assert(spike.getAs[Long]("mean_micro") == 700L * 1000000L / 6)
  }
}
