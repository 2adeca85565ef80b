package graft

/** Ground truths for the truncation-loss / OOV batch on hand-counted
  * corpora.
  */
class Round5atSpec extends SparkSpec {

  import sqlImplicits._

  test("ta_truncation: a 70-token doc loses exactly 6 tokens at 64") {
    val docs = Seq(
      (1L, "s", ("w " * 70).trim), // 70 tokens → 6 beyond
      (2L, "s", ("w " * 10).trim)  // 10 tokens → none
    ).toDF("doc_id", "source", "text")
    val dir = plant("/tmp/graft-test/trunc", "documents" -> docs)
    val r = SparkEntry.queries("ta_truncation")(spark, dir).collect().head
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("tokens") == 80L)
    assert(r.getAs[Long]("beyond") == 6L)
    assert(r.getAs[Long]("n_truncated") == 1L)
    assert(r.getAs[Long]("loss_micro") == 6L * 1000000 / 80)
  }

  test("ta_oov: rare tokens outside the top-20 vocab are counted") {
    // 21 distinct tokens with descending frequencies: t01 (22×) … t21
    // (2×); the LEAST frequent (t21, ties broken by name → t21 drops)
    // is OOV
    val body = (1 to 21).flatMap { i =>
      Seq.fill(23 - i)(f"t$i%02d")
    }.mkString(" ")
    val docs = Seq((1L, "s", body)).toDF("doc_id", "source", "text")
    val dir = plant("/tmp/graft-test/oov", "documents" -> docs)
    val r = SparkEntry.queries("ta_oov")(spark, dir).collect().head
    val total = (1 to 21).map(23 - _).sum
    assert(r.getAs[Long]("tokens") == total.toLong)
    assert(r.getAs[Long]("oov") == 2L) // t21 appears twice
    assert(r.getAs[Long]("oov_micro") == 2L * 1000000 / total)
  }
}
