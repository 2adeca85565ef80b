package graft

/** Ground truths for the experimentation batch: a hand-checked Wilson
  * interval (the expected bounds recomputed with the identical double
  * sequence, so equality is exact), a 3-brand BH panel where only the
  * planted deviant survives the 5% FDR cut, and a two-look sequential
  * monitor whose early-week z stays under the O'Brien-Fleming wall.
  */
class Round5xSpec extends SparkSpec {

  import sqlImplicits._

  test("q_wilson: 1-of-4 purchase day matches the closed form exactly") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "purchase"),
      (2L, 1L, ts("2024-01-01 11:00:00"), "click"),
      (3L, 2L, ts("2024-01-01 12:00:00"), "view"),
      (4L, 3L, ts("2024-01-01 13:00:00"), "view")
    ).map { case (e, u, t, ty) => (e, u, t, ty, 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/wilson", "events" -> ev)
    val r = SparkEntry.queries("q_wilson")(spark, dir).collect().head
    val n = 4.0; val p = 1.0 / n
    def bound(sign: Double) =
      math.round((p + 1.9208 / n + sign * 1.96 *
        math.sqrt((p * (1.0 - p) + 0.9604 / n) / n)) / (1.0 + 3.8416 / n) * 1000000)
    assert(r.getAs[Long]("rate_micro") == 250000L)
    assert(r.getAs[Long]("lo_micro") == bound(-1.0))
    assert(r.getAs[Long]("hi_micro") == bound(1.0))
    assert(r.getAs[Long]("lo_micro") > 0L && r.getAs[Long]("hi_micro") < 1000000L)
  }

  test("q_fdr: only the planted deviant brand survives the 5% FDR cut") {
    val part = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("p_partkey", "p_brand")
    // A returns 80/100, B and C 55/100 → pooled 0.61667; only A's z is extreme
    val li = (0 until 300).map { i =>
      val pk = i / 100 + 1L
      val ret = (pk, i % 100) match {
        case (1L, j) => j < 80
        case (_, j)  => j < 55
      }
      (i.toLong, pk, if (ret) "R" else "N")
    }.toDF("l_orderkey", "l_partkey", "l_returnflag")
    val dir = plant("/tmp/graft-test/fdr", "part" -> part, "lineitem" -> li)
    val rows = SparkEntry.queries("q_fdr")(spark, dir).collect()
      .map(r => r.getAs[String]("p_brand") -> r).toMap
    assert(rows("A").getAs[Boolean]("rejected"))
    assert(!rows("B").getAs[Boolean]("rejected") && !rows("C").getAs[Boolean]("rejected"))
    assert(rows.values.map(_.getAs[Long]("rk")).toSet == Set(1L, 2L, 3L))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("bh_micro") >= r.getAs[Long]("p_micro"))
      assert(r.getAs[Long]("bh_micro") <= 1000000L)
    }
  }

  test("ev_sequential: week-1 z below the OBF wall, cumulative week-2 counts") {
    val w1 = (0 until 20).map { i =>
      val arm = i % 2
      val purch = if (arm == 1) i < 10 && i % 2 == 1 && i <= 9 else i == 0
      (i.toLong, i.toLong, ts(f"2024-01-${i % 7 + 1}%02d 10:00:00"),
        if (purch) "purchase" else "click", s"""{"k": $arm}""")
    }
    val w2 = (20 until 30).map { i =>
      (i.toLong, i.toLong, ts("2024-01-10 10:00:00"), "click", s"""{"k": ${i % 2}}""")
    }
    val ev = (w1 ++ w2).map { case (e, u, t, ty, pr) => (e, u, t, ty, 1.0, pr) }
      .toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    val dir = plant("/tmp/graft-test/seq", "events" -> ev)
    val byLook = SparkEntry.queries("ev_sequential")(spark, dir).collect()
      .map(r => r.getAs[Long]("look") -> r).toMap
    val l1 = byLook(1L); val l2 = byLook(2L)
    assert(l1.getAs[Long]("n0") == 10L && l1.getAs[Long]("n1") == 10L)
    // cumulative counts grow by the 5-per-arm week-2 clicks
    assert(l2.getAs[Long]("n0") == 15L && l2.getAs[Long]("n1") == 15L)
    assert(l2.getAs[Long]("x0") == l1.getAs[Long]("x0")) // no new conversions
    // OBF wall at look 1 is 2.04·sqrt(5) ≈ 4.56σ — an early 10-vs-10
    // difference cannot cross it
    assert(l1.getAs[Long]("bound_micro") == math.round(2040000.0 * math.sqrt(5.0)))
    assert(!l1.getAs[Boolean]("crossed"))
  }
}
