package graft

/** Ground truths for the balance/ITS/blockiness batch: a planted
  * imbalance with the SMD recomputed by hand, drawn-in pre/post slopes,
  * and blockiness sums replayed from the closed-form grid.
  */
class Round5aeSpec extends SparkSpec {

  import sqlImplicits._

  test("ev_balance: planted value imbalance is flagged, hour stays balanced") {
    // arm 0: values 100, 200; arm 1: values 900, 1000 → huge SMD on value;
    // hours identical across arms → SMD 0
    val ev = Seq(
      (1L, 0L, 1.0), (2L, 0L, 2.0), (3L, 1L, 9.0), (4L, 1L, 10.0)
    ).map { case (e, arm, v) =>
      (e, e, ts("2024-01-01 10:00:00"), "click", v, s"""{"k": $arm}""")
    }.toDF("event_id", "user_id", "ts", "event_type", "value", "props")
    val dir = plant("/tmp/graft-test/balance", "events" -> ev)
    val rows = SparkEntry.queries("ev_balance")(spark, dir).collect()
      .map(r => r.getAs[String]("covariate") -> r).toMap
    val v = rows("value_c")
    assert(v.getAs[Long]("n0") == 2L && v.getAs[Long]("n1") == 2L)
    // means 150 vs 950 cents, each var = 5000 → smd = 800/sqrt(5000)
    assert(v.getAs[Long]("smd_micro") ==
      math.round(800.0 / math.sqrt(5000.0) * 1000000))
    assert(v.getAs[Boolean]("imbalanced"))
    assert(rows("hour").getAs[Long]("smd_micro") == 0L)
    assert(!rows("hour").getAs[Boolean]("imbalanced"))
  }

  test("ev_its: drawn-in level/trend break around day 15") {
    // pre days 1..3: y = 10 + 2t; post days 20..22: y = 50 − t
    val mk = Seq(1 -> 12, 2 -> 14, 3 -> 16, 20 -> 30, 21 -> 29, 22 -> 28)
    val ev = mk.flatMap { case (d, n) =>
      (1 to n).map(i => ((d * 1000 + i).toLong, 1L,
        ts(f"2024-01-$d%02d 10:00:00"), "purchase", 1.0))
    }.toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/its", "events" -> ev)
    val rows = SparkEntry.queries("ev_its")(spark, dir).collect()
      .map(r => r.getAs[String]("seg") -> r).toMap
    assert(rows("pre").getAs[Long]("slope_micro") == 2000000L)
    assert(rows("pre").getAs[Long]("intercept_micro") == 10000000L)
    assert(rows("post").getAs[Long]("slope_micro") == -1000000L)
    assert(rows("post").getAs[Long]("intercept_micro") == 50000000L)
  }

  test("mm_blockiness: diff sums match the closed-form grid replay") {
    val docs = Seq((5L, "x")).toDF("doc_id", "text").withColumn("source",
      org.apache.spark.sql.functions.lit("s"))
    val dir = plant("/tmp/graft-test/blocky", "documents" -> docs)
    val r = SparkEntry.queries("mm_blockiness")(spark, dir).collect().head
    val id = 5L
    val a = 1 + (id % 7).toInt; val b = 1 + (id % 5).toInt; val c = (id % 256).toInt
    var bsum = 0L; var isum = 0L
    for (y <- 0 until 32; x <- 0 until 31) {
      val d = math.abs(((a * (x + 1) + b * y + c) % 256) - ((a * x + b * y + c) % 256)).toLong
      if (x % 8 == 7) bsum += d else isum += d
    }
    assert(r.getAs[Long]("bsum") == bsum)
    assert(r.getAs[Long]("isum") == isum)
    assert(r.getAs[Long]("blockiness_micro") == bsum * 28L * 1000000L / (isum * 3L))
  }
}
