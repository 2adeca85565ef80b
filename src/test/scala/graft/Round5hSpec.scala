package graft

import org.apache.spark.sql.functions._

/** Planted-data ground truths for the eighth round-5 batch: ancestor-
  * explode tree rollup (hand-drawn decimal hierarchy), sweep-line peak
  * concurrency (overlap of 2 at mid-morning, midnight-crossing
  * interval lands on the next day), CUPED adjustment on a perfect
  * y = 2x line (all adjusted outcomes collapse to the mean), and the
  * inter-event gap ladder.
  */
class Round5hSpec extends SparkSpec {

  import sqlImplicits._

  test("q_treeagg: subtree counts and sums on a hand-drawn hierarchy") {
    val orders = Seq((1L, 123L, 1.00), (2L, 124L, 2.00), (3L, 5L, 4.00))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val dir = plant("/tmp/graft-test/tree", "orders" -> orders)
    val out = SparkEntry.queries("q_treeagg")(spark, dir).collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("n_desc"), r.getAs[Long]("subtree_rev_c"))).toMap
    assert(out.size == 6)
    assert(out(123L) == ((1L, 100L)) && out(124L) == ((1L, 200L)))
    assert(out(12L) == ((2L, 300L))) // 123 and 124 roll up to 12
    assert(out(1L) == ((2L, 300L)))
    assert(out(5L) == ((1L, 400L)))
    assert(out(0L) == ((3L, 700L))) // root sees every leaf
  }

  test("ev_concurrency: overlap peak of 2; midnight crossing splits days") {
    val ev = Seq(
      (1L, 1L, ts("2024-03-01 10:00:00")),
      (2L, 2L, ts("2024-03-01 10:30:00")), // overlaps #1 → peak 2
      (3L, 1L, ts("2024-03-01 12:00:00")),
      (4L, 2L, ts("2024-03-01 23:30:00"))  // crosses into 2024-03-02
    ).map { case (e, u, t) => (e, u, t, 1.0) }
      .toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/conc", "events" -> ev)
    val out = SparkEntry.queries("ev_concurrency")(spark, dir).collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("peak")).toMap
    val d0 = java.time.LocalDate.of(2024, 3, 1).toEpochDay
    assert(out.size == 2)
    assert(out(d0) == 2L)
    assert(out(d0 + 1) == 1L) // the 00:00-00:30 tail of event #4
  }

  test("ev_cuped: y = 2x pre/post collapses all adjusted outcomes") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-10 00:00:00"), 1.00), // pre
      (2L, 1L, ts("2024-01-20 00:00:00"), 2.00), // post
      (3L, 2L, ts("2024-01-10 00:00:00"), 2.00),
      (4L, 2L, ts("2024-01-20 00:00:00"), 4.00),
      (5L, 3L, ts("2024-01-10 00:00:00"), 3.00),
      (6L, 3L, ts("2024-01-20 00:00:00"), 6.00)
    ).toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/cuped", "events" -> ev)
    val out = SparkEntry.queries("ev_cuped")(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out.values.forall(_.getAs[Long]("theta_micro") == 2000000L))
    // every user's adjusted outcome is the same 4e8 (mean-centered line)
    assert(out(1L).getAs[Long]("x_c") == 100L && out(1L).getAs[Long]("y_c") == 200L)
    assert(out.values.forall(_.getAs[Long]("y_adj_micro") == 400000000L))
  }

  test("ev_gaps: the CASE ladder buckets hand-planted think times") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (2L, 1L, ts("2024-01-01 10:00:05")), // 5 s
      (3L, 1L, ts("2024-01-01 10:00:30")), // 25 s
      (4L, 1L, ts("2024-01-01 12:00:30")), // 7200 s
      (5L, 2L, ts("2024-01-01 10:00:00"))  // single event: no gap
    ).map { case (e, u, t) => (e, u, t, 1.0) }
      .toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/gaps", "events" -> ev)
    val out = SparkEntry.queries("ev_gaps")(spark, dir).collect()
      .map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("n"), r.getAs[Long]("share_micro"))).toMap
    assert(out.size == 3)
    assert(out("1_under_10s") == ((1L, 333333L)))
    assert(out("2_under_1m") == ((1L, 333333L)))
    assert(out("5_under_1d") == ((1L, 333333L)))
  }
}
