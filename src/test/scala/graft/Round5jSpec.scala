package graft

import org.apache.spark.sql.functions._

/** Ground truths for the tenth round-5 batch: span corruption is
  * verified by the LOSSLESS property (substituting each sentinel's
  * target span back into the masked text reconstructs every original
  * document at sf0.001), Q–Q deciles on two hand-built distributions,
  * and the power planner against the textbook n = 2(σ/δ)²·(z_α+z_β)²
  * numbers.
  */
class Round5jSpec extends SparkSpec {

  import sqlImplicits._

  test("ta_span_corrupt: masked + targets reconstruct every sf0.001 doc") {
    val out = SparkEntry.queries("ta_span_corrupt")(spark, sf0001).collect()
    val orig = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out.length == orig.size)
    var maskedDocs = 0
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nSpans = r.getAs[Long]("n_spans")
      val masked = r.getAs[String]("masked_text")
      val targets = r.getAs[String]("targets")
      // parse targets into sid -> span words
      val sentinel = "<extra_id_(\\d+)>".r
      val spans: Map[Long, Seq[String]] =
        if (targets.isEmpty) Map.empty
        else {
          val marks = sentinel.findAllMatchIn(targets).toSeq
          marks.zipWithIndex.map { case (m, i) =>
            val end = if (i + 1 < marks.size) marks(i + 1).start else targets.length
            val words = targets.substring(m.end, end).trim.split(" ").toSeq
            m.group(1).toLong -> words
          }.toMap
        }
      assert(spans.size == nSpans, s"doc $id sentinel count")
      val rebuilt = masked.split(" ").toSeq.flatMap {
        case sentinel(sid) => spans(sid.toLong)
        case w => Seq(w)
      }.mkString(" ")
      assert(rebuilt == orig(id), s"doc $id reconstruction")
      if (nSpans > 0) maskedDocs += 1
    }
    assert(maskedDocs > 0, "the seeded selection must mask some docs")
  }

  test("q_qq: deciles of two hand-built distributions line up") {
    val li = ((1 to 10).map(k => ("R", k * 1.00)) ++
      (1 to 10).map(k => ("N", k * 2.00))).zipWithIndex
      .map { case ((g, p), i) => (i.toLong, i, g, p) }
      .toDF("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    val dir = plant("/tmp/graft-test/qq", "lineitem" -> li)
    val out = SparkEntry.queries("q_qq")(spark, dir).collect()
      .map(r => r.getAs[Long]("decile") ->
        (r.getAs[Long]("r_price_c"), r.getAs[Long]("n_price_c"))).toMap
    assert(out.size == 9)
    (1 to 9).foreach { k =>
      assert(out(k.toLong) == ((k * 100L, k * 200L)), s"decile $k")
    }
  }

  test("q_power: textbook sample sizes for sd=1000c against 1/5/10 dollar MDEs") {
    val orders = Seq((1L, 1L, 10.00), (2L, 2L, 20.00), (3L, 3L, 30.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val dir = plant("/tmp/graft-test/power", "orders" -> orders)
    val out = SparkEntry.queries("q_power")(spark, dir).collect()
      .map(r => r.getAs[Long]("delta_c") -> r.getAs[Long]("n_required")).toMap
    // var = 1e6 c² (σ = $10): n = ceil(2·7.848886·(σ/δ)²)
    assert(out(100L) == 1570L)
    assert(out(500L) == 63L)
    assert(out(1000L) == 16L)
  }
}
