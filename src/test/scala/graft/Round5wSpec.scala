package graft

import org.apache.spark.sql.functions._

/** Ground truths for the final round-5 batch: gaps-and-islands streaks
  * on a hand-drawn activity calendar (3+1+2 days → streaks 3/1/2), and
  * cart abandonment with a purchase landing inside vs outside the
  * one-hour window.
  */
class Round5wSpec extends SparkSpec {

  import sqlImplicits._

  test("ev_streaks: 3-day, 1-day and 2-day islands from the calendar") {
    val ev = Seq(
      "2024-01-01", "2024-01-02", "2024-01-03", // 3-day streak
      "2024-01-05",                             // 1-day island
      "2024-01-08", "2024-01-09"                // 2-day streak
    ).zipWithIndex.map { case (d, i) => (i.toLong, 1L, ts(s"$d 10:00:00"), 1.0) }
      .toDF("event_id", "user_id", "ts", "value")
    val dir = plant("/tmp/graft-test/streaks", "events" -> ev)
    val r = SparkEntry.queries("ev_streaks")(spark, dir).collect().head
    assert(r.getAs[Long]("n_active_days") == 6L)
    assert(r.getAs[Long]("n_streaks") == 3L)
    assert(r.getAs[Long]("longest_streak") == 3L)
  }

  test("ev_abandon: purchase inside the hour converts, outside abandons") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00"), "click"),    // converts (10:30)
      (2L, 1L, ts("2024-01-01 10:30:00"), "purchase"),
      (3L, 2L, ts("2024-01-01 11:00:00"), "click"),    // purchase 2h later
      (4L, 2L, ts("2024-01-01 13:00:00"), "purchase"),
      (5L, 3L, ts("2024-01-01 12:00:00"), "click")     // never purchases
    ).map { case (e, u, t, ty) => (e, u, t, ty, 1.0) }
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val dir = plant("/tmp/graft-test/abandon", "events" -> ev)
    val r = SparkEntry.queries("ev_abandon")(spark, dir).collect().head
    assert(r.getAs[Long]("n_clicks") == 3L)
    assert(r.getAs[Long]("n_abandoned") == 2L)
    assert(r.getAs[Long]("abandon_micro") == 666666L)
  }
}
