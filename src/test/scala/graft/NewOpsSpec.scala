package graft

import graft.ext.{Profile, Relational, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-3 extended operators: histogram profiling, vocabulary heavy
  * hitters, conversion funnel — hand-built inputs with known answers.
  */
class NewOpsSpec extends SparkSpec {
  import spark.implicits._

  test("histogram: equi-width buckets cover [min,max], last bucket right-closed") {
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val h = Profile.histogram(df, "v", 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0..100 over 10 buckets of width 10: bucket i gets 10 values, except
    // the last which also holds v=100 (right-closed)
    assert(h.keySet == (0L to 9L).toSet)
    assert((0L to 8L).forall(h(_) == 10L))
    assert(h(9L) == 11L)
    assert(h.values.sum == 101L)
  }

  test("histogram: nulls excluded, counts preserved") {
    val df = Seq[Option[Double]](Some(1.0), Some(2.0), None, Some(3.0)).toDF("v")
    val h = Profile.histogram(df, "v", 2).collect()
    assert(h.map(_.getLong(1)).sum == 3L)
  }

  test("topTokens: counts and deterministic tie order") {
    val docs = Seq(
      "alpha beta beta gamma",
      "beta gamma gamma delta",
      "alpha beta").toDF("text")
    val top = TextAnalysis.topTokens(docs, col("text"), 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // beta=4, gamma=3, alpha=2 (delta=1 cut)
    assert(top == Seq(("beta", 4L), ("gamma", 3L), ("alpha", 2L)))
  }

  test("funnel: conversions within window, inclusive ties, resets per key") {
    val ev = Seq(
      // u1: view 10:00 → purchase 10:30 (converted), purchase 12:00 (stale view, not converted)
      ("u1", ts("2024-01-01 10:00:00"), "view"),
      ("u1", ts("2024-01-01 10:30:00"), "purchase"),
      ("u1", ts("2024-01-01 12:00:00"), "purchase"),
      // u2: purchase with NO prior view → not converted; later view+tied-ts purchase → converted
      ("u2", ts("2024-01-01 09:00:00"), "purchase"),
      ("u2", ts("2024-01-01 11:00:00"), "view"),
      ("u2", ts("2024-01-01 11:00:00"), "purchase"), // equal ts counts (inclusive RANGE frame)
      // u3: views only
      ("u3", ts("2024-01-01 10:00:00"), "view")
    ).toDF("user_id", "ts", "event_type")
    val got = Relational.funnel(ev, "user_id", "ts", "view", "purchase", "event_type", 3600)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("u1") == ((2L, 1L)))
    assert(got("u2") == ((2L, 1L)))
    assert(got("u3") == ((0L, 0L)))
  }
}
