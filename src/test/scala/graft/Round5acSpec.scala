package graft

import org.apache.spark.sql.functions.lit

/** Ground truths for the radius-search / image-histogram / effective-n
  * batch: ε-ball membership against hand-built vectors, every histogram
  * bin against the planted closed form, and Kish eff-n on a two-weight
  * design computed by hand.
  */
class Round5acSpec extends SparkSpec {

  import sqlImplicits._

  test("sim_radius: hand-built vectors fall inside/outside the 0.25 ball") {
    // probe 0 = (1,0); id 10 = (1, 0.1) → cos ≈ 0.995 (in);
    // id 11 = (0, 1) → cos 0 (out); id 12 = (1, 3) → cos ≈ 0.316 (in)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(-1.0f, 0.0f)), (3L, Array(0.5f, 0.5f)),
      (4L, Array(1.0f, -1.0f)), (5L, Array(-0.5f, 0.5f)),
      (6L, Array(0.0f, -1.0f)), (7L, Array(0.3f, 0.3f)),
      (10L, Array(1.0f, 0.1f)), (11L, Array(0.0f, 1.0f)), (12L, Array(1.0f, 3.0f))
    ).toDF("vec_id", "embedding")
    val dir = plant("/tmp/graft-test/radius", "embeddings" -> emb)
    val got = SparkEntry.queries("sim_radius")(spark, dir).collect()
      .filter(_.getAs[Long]("query_id") == 0L)
      .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Long]("score_micro")).toMap
    assert(got.contains(10L) && got(10L) > 990000L)
    assert(got.contains(12L) && got(12L) == math.round(1.0 / math.sqrt(10.0) * 1000000))
    assert(!got.contains(11L) && !got.contains(2L))
    // every returned pair respects the threshold
    SparkEntry.queries("sim_radius")(spark, dir).collect()
      .foreach(r => assert(r.getAs[Long]("score_micro") >= 250000L))
  }

  test("mm_histogram: real decode matches the closed-form pixel replay") {
    val docs = Seq((3L, "x"), (77L, "y")).toDF("doc_id", "text")
      .withColumn("source", lit("s"))
    val dir = plant("/tmp/graft-test/lumahist", "documents" -> docs)
    val got = SparkEntry.queries("mm_histogram")(spark, dir).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("bin")) -> r.getAs[Long]("n_px"))
      .toMap
    assert(got.size == 32) // 2 docs × 16 bins, zeros included
    for (id <- Seq(3L, 77L)) {
      val counts = new Array[Long](16)
      val a = 1 + (id % 7).toInt; val b = 1 + (id % 5).toInt; val c = (id % 256).toInt
      for (y <- 0 until 32; x <- 0 until 32)
        counts(((a * x + b * y + c) % 256) / 16) += 1
      for (bin <- 0 until 16)
        assert(got((id, bin.toLong)) == counts(bin), s"id=$id bin=$bin")
      assert(counts.sum == 1024L)
    }
  }

  test("q_effective_n: two-weight design matches the Kish closed form") {
    // weights (1, 1, 4): Σw = 6, Σw² = 18 → eff_n = 36/18 = 2.0, deff = 3·18/36 = 1.5
    val docs = Seq((1L, "s", 1L), (2L, "s", 1L), (3L, "s", 4L))
      .toDF("doc_id", "source", "n_chars")
    val dir = plant("/tmp/graft-test/effn", "documents" -> docs)
    val r = SparkEntry.queries("q_effective_n")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Long]("eff_n_micro") == 2000000L)
    assert(r.getAs[Long]("deff_micro") == 1500000L)
  }
}
