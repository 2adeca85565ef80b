package graft

/** Ground truths for the relative-risk / audience-overlap /
  * monotonicity batch: a 2×2 replayed with the identical double
  * sequence, a 3-user overlap drawn by hand, and a planted inversion.
  */
class Round5apSpec extends SparkSpec {

  import sqlImplicits._

  test("q_relative_risk: planted 2×2 matches the closed forms") {
    // exposed (disc ≥ 5%): 10 R, 30 N; unexposed: 5 R, 55 N
    val li = (Seq.fill(10)((0.06, "R")) ++ Seq.fill(30)((0.06, "N")) ++
      Seq.fill(5)((0.01, "R")) ++ Seq.fill(55)((0.01, "N")))
      .toDF("l_discount", "l_returnflag")
    val dir = plant("/tmp/graft-test/rr", "lineitem" -> li)
    val r = SparkEntry.queries("q_relative_risk")(spark, dir).collect().head
    assert((r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c"),
      r.getAs[Long]("d")) == ((10L, 30L, 5L, 55L)))
    assert(r.getAs[Long]("rr_micro") == math.round(0.25 / (5.0 / 60.0) * 1000000))
    val or = 10.0 * 55 / (30.0 * 5)
    assert(r.getAs[Long]("or_micro") == math.round(or * 1000000))
    val se = math.sqrt(1.0 / 10 + 1.0 / 30 + 1.0 / 5 + 1.0 / 55)
    assert(r.getAs[Long]("or_lo_micro") ==
      math.round(math.exp(math.log(or) - 1.96 * se) * 1000000))
    assert(r.getAs[Long]("or_hi_micro") ==
      math.round(math.exp(math.log(or) + 1.96 * se) * 1000000))
  }

  test("ev_audience_overlap: 3 users drawn by hand") {
    // u1: view+click; u2: view; u3: click+purchase
    val ev = Seq((1L, 1L, "view"), (2L, 1L, "click"), (3L, 2L, "view"),
      (4L, 3L, "click"), (5L, 3L, "purchase"))
      .map { case (e, u, t) => (e, u, ts("2024-01-01 10:00:00"), t, 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/overlap", "events" -> ev)
    val rows = SparkEntry.queries("ev_audience_overlap")(spark, dir).collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        (r.getAs[Long]("n_both"), r.getAs[Long]("n_either"))).toMap
    assert(rows(("view", "click")) == ((1L, 3L)))       // u1 both; u1,u2,u3 either
    assert(rows(("click", "purchase")) == ((1L, 2L)))   // u3 both; u1,u3 either
    assert(rows(("view", "purchase")) == ((0L, 3L)))
    assert(rows.size == 10)
  }

  test("q_monotonicity: one planted inversion of 300000 micro") {
    // qty 1: 1/2 returned (500000); qty 2: 1/5 (200000) ← violation;
    // qty 3: 3/4 (750000)
    val li = (Seq((1.0, "R"), (1.0, "N")) ++
      (Seq.fill(1)((2.0, "R")) ++ Seq.fill(4)((2.0, "N"))) ++
      (Seq.fill(3)((3.0, "R")) ++ Seq.fill(1)((3.0, "N"))))
      .toDF("l_quantity", "l_returnflag")
    val dir = plant("/tmp/graft-test/mono", "lineitem" -> li)
    val r = SparkEntry.queries("q_monotonicity")(spark, dir).collect().head
    assert(r.getAs[Long]("n_bins") == 3L)
    assert(r.getAs[Long]("n_violations") == 1L)
    assert(r.getAs[Long]("worst_drop_micro") == 300000L)
  }
}
