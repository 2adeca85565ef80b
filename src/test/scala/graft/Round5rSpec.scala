package graft

import org.apache.spark.sql.functions._

/** Ground truths for the eighteenth round-5 batch: Welch's t and the
  * Satterthwaite df recomputed independently in the test, Spearman on
  * a tie-bearing anti-monotone set (ρ = −√3/2 exactly), and k-fold
  * assignments that balance every stratum to within one document.
  */
class Round5rSpec extends SparkSpec {

  import sqlImplicits._

  test("q_ttest: Welch t and Satterthwaite df match an independent calc") {
    val li = Seq(("R", 1.00), ("R", 2.00), ("R", 3.00), ("N", 4.00), ("N", 6.00))
      .toDF("l_returnflag", "l_extendedprice")
    val dir = plant("/tmp/graft-test/ttest", "lineitem" -> li)
    val r = SparkEntry.queries("q_ttest")(spark, dir).collect().head
    val a1 = 60000.0 / 18   // v1/n1 from exact integer sums
    val a2 = 40000.0 / 4
    val t = -300.0 / math.sqrt(a1 + a2)
    val df = (a1 + a2) * (a1 + a2) / (a1 * a1 / 2 + a2 * a2 / 1)
    assert(r.getAs[Long]("n_returned") == 3L && r.getAs[Long]("n_kept") == 2L)
    assert(r.getAs[Long]("t_micro") == math.round(t * 1e6))   // −2598076
    assert(r.getAs[Long]("df_micro") == math.round(df * 1e6)) // 1684211
  }

  test("q_spearman: tie-bearing anti-monotone set gives rho = -sqrt(3)/2") {
    val li = Seq((1.0, 3.00), (2.0, 2.00), (3.0, 2.00))
      .toDF("l_quantity", "l_extendedprice")
    val dir = plant("/tmp/graft-test/spearman", "lineitem" -> li)
    val r = SparkEntry.queries("q_spearman")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Long]("rho_micro") == math.round(-math.sqrt(3.0) / 2 * 1e6))
  }

  test("q_spearman: perfect monotone gives exactly 1e6") {
    val li = Seq((1.0, 1.00), (2.0, 2.00), (3.0, 3.00))
      .toDF("l_quantity", "l_extendedprice")
    val dir = plant("/tmp/graft-test/spearman2", "lineitem" -> li)
    assert(SparkEntry.queries("q_spearman")(spark, dir)
      .collect().head.getAs[Long]("rho_micro") == 1000000L)
  }

  test("ta_kfold: every stratum balances to within one doc, reproducibly") {
    val docs = ((1L to 10L).map(i => (i, "t", "A")) ++ (11L to 17L).map(i => (i, "t", "B")))
      .toDF("doc_id", "text", "source")
    val dir = plant("/tmp/graft-test/kfold", "documents" -> docs)
    val run1 = SparkEntry.queries("ta_kfold")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[Long]("fold")))
    val counts = run1.groupBy(t => (t._2, t._3)).view.mapValues(_.size).toMap
    // A: 10 docs → exactly 2 per fold; B: 7 docs → sizes 2,2,1,1,1
    (0L to 4L).foreach(f => assert(counts(("A", f)) == 2))
    assert((0L to 4L).map(f => counts(("B", f))).sorted == Seq(1, 1, 1, 2, 2))
    val run2 = SparkEntry.queries("ta_kfold")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[Long]("fold")))
    assert(run1.toSet == run2.toSet) // seeded hash: reproducible
  }
}
