package graft

import java.sql.Date

/** Ground truths for the Kendall / session-sweep / image-entropy batch:
  * a 4-day series with one discordant pair and ties, a calendar whose
  * session counts differ per timeout, and a flat image scoring zero
  * entropy.
  */
class Round5alSpec extends SparkSpec {

  import sqlImplicits._

  test("q_kendall: one discordant pair and a y-tie, on paper") {
    // days: (x, y) = (1,1), (2,2), (3,2), (4,0)
    // pairs: 12:+1, 13:+1, 14:−1, 23:0(y tie), 24:−1, 34:−1 → S = −1
    // ties: n1 = 0, n2 = 1 (one y-group of two 2s)
    val li = Seq((1, 1.0, 1.0), (2, 2.0, 2.0), (3, 3.0, 2.0), (4, 4.0, 0.0))
      .map { case (d, x, y) => (Date.valueOf(f"2024-01-$d%02d"), x, y) }
      .toDF("l_shipdate", "l_extendedprice", "l_quantity")
    val dir = plant("/tmp/graft-test/kendall", "lineitem" -> li)
    val r = SparkEntry.queries("q_kendall")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Long]("s") == -1L)
    assert(r.getAs[Long]("n1") == 0L && r.getAs[Long]("n2") == 1L)
    // tau-b = −1 / sqrt(6 · 5)
    assert(r.getAs[Long]("tau_micro") ==
      math.round(-1.0 / math.sqrt(6.0 * 5.0) * 1000000))
  }

  test("ev_session_sensitivity: gaps of 20 and 45 min split differently") {
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00"),
      (2L, 1L, "2024-01-01 10:20:00"), // 1200 s gap: splits at τ=900 only
      (3L, 1L, "2024-01-01 11:05:00"), // 2700 s gap: splits at τ≤1800
      (4L, 2L, "2024-01-01 10:00:00")
    ).map { case (e, u, t) => (e, u, ts(t), "click", 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/sesssweep", "events" -> ev)
    val rows = SparkEntry.queries("ev_session_sensitivity")(spark, dir).collect()
      .map(r => r.getAs[Long]("tau_s") -> r.getAs[Long]("n_sessions")).toMap
    assert(rows(900L) == 4L)  // 2 users + both gaps
    assert(rows(1800L) == 3L) // only the 45-min gap splits
    assert(rows(3600L) == 2L) // nothing splits
  }

  test("mm_entropy: wrap-free gradient image has the expected bin terms") {
    // doc_id 7: a=1+7%7=1, b=1+7%5=3, c=7 → luma = (x + 3y + 7) % 256,
    // values 7..107 over the grid (no wrap): entropy from exact counts
    val docs = Seq((7L, "x")).toDF("doc_id", "text")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    val dir = plant("/tmp/graft-test/mment", "documents" -> docs)
    val r = SparkEntry.queries("mm_entropy")(spark, dir).collect().head
    val counts = new Array[Long](16)
    for (y <- 0 until 32; x <- 0 until 32) counts(((x + 3 * y + 7) % 256) / 16) += 1
    val exp = counts.filter(_ > 0).map { n =>
      math.round(-(n.toDouble / 1024.0) * math.log(n.toDouble / 1024.0) * 1000000)
    }.sum
    assert(r.getAs[Long]("n_occupied") == counts.count(_ > 0).toLong)
    assert(r.getAs[Long]("entropy_micronats") == exp)
  }
}
