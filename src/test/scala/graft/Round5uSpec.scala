package graft

import org.apache.spark.sql.functions._

/** Ground truths for the twenty-first round-5 batch: Tukey fences from
  * hand-solved quartiles flag exactly the planted outlier, and
  * content-defined chunking is checked against a from-scratch Scala
  * reimplementation of the rolling hash + cuts (duplicate docs dedup
  * to one stored copy).
  */
class Round5uSpec extends SparkSpec {

  import sqlImplicits._

  test("q_tukey: fences from hand-solved quartiles catch the outlier") {
    val li = ((1 to 20).map(i => i * 1.00) :+ 100.00).zipWithIndex
      .map { case (p, i) => (i.toLong, i, "R", p) }
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    val dir = plant("/tmp/graft-test/tukey", "lineitem" -> li)
    val r = SparkEntry.queries("q_tukey")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 21L)
    // q1 = 600c, q3 = 1600c (exact ranks) → fences −900c .. 3100c
    assert(r.getAs[Long]("lo_micro") == -900000000L)
    assert(r.getAs[Long]("hi_micro") == 3100000000L)
    assert(r.getAs[Long]("n_below") == 0L)
    assert(r.getAs[Long]("n_above") == 1L) // the $100 line
  }

  test("ta_cdc_chunk: matches a from-scratch chunker; dup docs dedup") {
    // independent reimplementation of the 8-char base-31 rolling chunker
    def chunk(t: String): Seq[String] = {
      val p = Array(1L, 31L, 961L, 29791L, 923521L, 28629151L, 887503681L, 27512614111L)
      val cuts = (8 to t.length).filter { i =>
        val h = (0 until 8).map(k => t.charAt(i - 1 - k).toLong * p(k)).sum
        h % 64 == 0
      }
      val bounds = (Seq(0) ++ cuts ++ Seq(t.length)).distinct.sorted
      bounds.sliding(2).filter(_.size == 2).map(b => t.substring(b(0), b(1))).toSeq
    }
    val a = "the quick brown fox jumps over the lazy dog while counting tokens and shuffling partitions across executors"
    val b = "completely different payload with its own byte stream and no shared substrings of note whatsoever here"
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val dir = plant("/tmp/graft-test/cdc", "documents" -> docs)
    val r = SparkEntry.queries("ta_cdc_chunk")(spark, dir).collect().head
    val (ca, cb) = (chunk(a), chunk(b))
    val all = ca ++ ca ++ cb
    val distinct = all.distinct
    assert(r.getAs[Long]("n_chunks_total") == all.size.toLong)
    assert(r.getAs[Long]("n_chunks_distinct") == distinct.size.toLong)
    assert(r.getAs[Long]("bytes_total") == all.map(_.length).sum.toLong)
    assert(r.getAs[Long]("bytes_distinct") == distinct.map(_.length).sum.toLong)
    // the duplicated doc is stored once: total strictly exceeds distinct
    assert(r.getAs[Long]("bytes_total") > r.getAs[Long]("bytes_distinct"))
    assert(ca.mkString == a && cb.mkString == b) // chunker is lossless
  }
}
