package graft

import org.apache.spark.sql.functions._

/** Ground truths for the twenty-second round-5 batch: chunk-overlap
  * near-dup pairs against the independent chunker (the classic CDC
  * property — interior chunks of a shared substring align despite
  * different prefixes), Neyman allocation sending the whole budget to
  * the only stratum with variance, and the tier-migration matrix on
  * hand-placed customers.
  */
class Round5vSpec extends SparkSpec {

  import sqlImplicits._

  private def chunk(t: String): Seq[String] = {
    val p = Array(1L, 31L, 961L, 29791L, 923521L, 28629151L, 887503681L, 27512614111L)
    val cuts = (8 to t.length).filter { i =>
      (0 until 8).map(k => t.charAt(i - 1 - k).toLong * p(k)).sum % 64 == 0
    }
    val bounds = (Seq(0) ++ cuts ++ Seq(t.length)).distinct.sorted
    bounds.sliding(2).filter(_.size == 2).map(b => t.substring(b(0), b(1))).toSeq
  }

  test("dd_chunk_overlap: shared-substring docs pair; unrelated do not") {
    val common = (1 to 12).map(i =>
      s"sentence number $i about rolling hashes cutting content defined " +
        s"boundaries that survive byte shifts since window $i sees only " +
        s"local context and interior chunks of shared region $i align").mkString(" ")
    val d1 = common + " with one tail"
    val d2 = "another head entirely " + common
    val d3 = "no overlap at all in this payload which talks about parquet " +
      "row groups and shuffle partitions and nothing else of consequence"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/chunkov", "documents" -> docs)
    val got = SparkEntry.queries("dd_chunk_overlap")(spark, dir).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")) ->
        r.getAs[Long]("n_shared")).toMap
    val texts = Map(1L -> d1, 2L -> d2, 3L -> d3)
    val sets = texts.view.mapValues(t => chunk(t).filter(_.length >= 12).toSet).toMap
    val want = (for {
      a <- texts.keys; b <- texts.keys if a < b
      shared = (sets(a) intersect sets(b)).size if shared >= 2
    } yield (a, b) -> shared.toLong).toMap
    assert(want.contains((1L, 2L)), "fixture must produce aligned chunks")
    assert(got == want)
  }

  test("ta_neyman: all budget flows to the only stratum with variance") {
    val docs = Seq((1L, "t", "X", 100L), (2L, "t", "X", 300L),
      (3L, "t", "Y", 200L), (4L, "t", "Y", 200L))
      .toDF("doc_id", "text", "source", "n_chars")
    val dir = plant("/tmp/graft-test/neyman", "documents" -> docs)
    val out = SparkEntry.queries("ta_neyman")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("w_micro"), r.getAs[Long]("alloc"))).toMap
    // X: σ = √((2·100000−160000)/2) = √20000, w = 2σ → 282842712 micro
    assert(out("X") == ((282842712L, 1000L)))
    assert(out("Y") == ((0L, 0L)))
  }

  test("ev_tier_migration: hand-placed customers land in their cells") {
    val orders = Seq(
      (1L, 1L, ts("1996-01-01 00:00:00"), 2000000.00), // A era-1
      (2L, 1L, ts("1999-01-01 00:00:00"), 800000.00),  // B era-2
      (3L, 2L, ts("1998-06-01 00:00:00"), 100000.00),  // C era-2 only
      (4L, 3L, ts("1995-06-01 00:00:00"), 900000.00)   // B era-1 only
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val dir = plant("/tmp/graft-test/tiermig", "orders" -> orders)
    val out = SparkEntry.queries("ev_tier_migration")(spark, dir).collect()
      .map(r => (r.getAs[String]("from_tier"), r.getAs[String]("to_tier")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("share_micro"))).toMap
    assert(out.size == 3)
    assert(out(("A", "B")) == ((1L, 333333L)))
    assert(out(("none", "C")) == ((1L, 333333L)))
    assert(out(("B", "none")) == ((1L, 333333L)))
  }
}
