package graft

import org.apache.spark.sql.functions._

/** Ground truths for the sixteenth round-5 batch: the streaming SRM
  * guardrail equals the batch chi-square on the same 60/40 violation,
  * the calibration table's predicted/observed gap, and Theil T on both
  * a perfectly equal split (zero) and a hand-solved 100/300 split.
  */
class Round5pSpec extends SparkSpec {

  import sqlImplicits._

  test("stream_srm: streamed 60/40 arm counts flag exactly like batch") {
    val ev = ((0 until 60).map(i =>
      (i.toLong, 1L, ts("2024-01-01 10:00:00"), 1.0, """{"k": 0}""")) ++
      (0 until 40).map(i =>
        (1000L + i, 1L, ts("2024-01-01 10:00:00"), 1.0, """{"k": 1}""")))
      .toDF("event_id", "user_id", "ts", "value", "props")
    val dir = plant("/tmp/graft-test/ssrm", "events" -> ev)
    val r = SparkEntry.queries("stream_srm")(spark, dir).collect().head
    assert(r.getAs[Long]("n_total") == 100L)
    assert(r.getAs[Long]("chi2_micro") == 4000000L)
    assert(r.getAs[Boolean]("srm_detected"))
  }

  test("q_calibration: predicted qty/50 vs observed R share per bucket") {
    val li = (Seq.fill(3)(("N", 10.0)) :+ (("R", 10.0))) ++ Seq(("R", 50.0), ("R", 50.0))
    val dir = plant("/tmp/graft-test/calib",
      "lineitem" -> li.toDF("l_returnflag", "l_quantity"))
    val out = SparkEntry.queries("q_calibration")(spark, dir).collect()
      .map(r => r.getAs[Long]("qty") ->
        (r.getAs[Long]("n"), r.getAs[Long]("pred_micro"), r.getAs[Long]("obs_micro"),
          r.getAs[Long]("gap_micro"))).toMap
    assert(out(10L) == ((4L, 200000L, 250000L, -50000L)))
    assert(out(50L) == ((2L, 1000000L, 1000000L, 0L)))
  }

  test("q_theil: zero on equality, hand-solved on a 100/300 split") {
    val eq = Seq((1L, 1L, 2.00), (2L, 2L, 2.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val dirEq = plant("/tmp/graft-test/theil1", "orders" -> eq)
    val rEq = SparkEntry.queries("q_theil")(spark, dirEq).collect().head
    assert(rEq.getAs[Long]("theil_micro") == 0L)
    val un = Seq((1L, 1L, 1.00), (2L, 2L, 3.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val dirUn = plant("/tmp/graft-test/theil2", "orders" -> un)
    val rUn = SparkEntry.queries("q_theil")(spark, dirUn).collect().head
    // (0.5·ln0.5 → −346574) + (1.5·ln1.5 → 608198) = 261624; /2 = 130812
    assert(rUn.getAs[Long]("n_customers") == 2L)
    assert(rUn.getAs[Long]("theil_micro") == 130812L)
  }
}
