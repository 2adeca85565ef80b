package graft

import org.apache.spark.sql.functions._
import graft.ext.Robust

class RobustSpec extends SparkSpec {

  import sqlImplicits._

  test("winsorize: nearest-rank bounds on a hand group") {
    // group g: values 1..10 → idx(0.2)=2, idx(0.8)=8 ⇒ lo=2, hi=8
    val df = (1 to 10).map(i => ("g", i.toLong, i.toLong)).toDF("k", "id", "v")
    val out = Robust.winsorize(df, "k", "v", 0.2, 0.8, keep = Seq("k", "id", "v"))
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    (1 to 10).foreach { i =>
      val (lo, hi, w, outl) = out(i.toLong)
      assert(lo == 2L && hi == 8L, s"bounds at $i")
      assert(w == math.min(8L, math.max(2L, i.toLong)), s"clip at $i")
      assert(outl == (i < 2 || i > 8), s"flag at $i")
    }
  }

  test("winsorize: deterministic under physical row order; groups independent") {
    val rows = (1 to 50).map(i => ("a", i.toLong, (i * 37 % 100).toLong)) ++
      (1 to 7).map(i => ("b", i.toLong, (1000 + i).toLong))
    val fwd = Robust.winsorize(rows.toDF("k", "id", "v"), "k", "v", 0.1, 0.9,
      Seq("k", "id", "v")).collect().map(_.toSeq).toSet
    val rev = Robust.winsorize(rows.reverse.toDF("k", "id", "v").repartition(7), "k", "v",
      0.1, 0.9, Seq("k", "id", "v")).collect().map(_.toSeq).toSet
    assert(fwd == rev)
    // group b (n=7): idx(0.1)=1 → lo is the min; nothing clipped below
    val b = fwd.filter(_.head == "b")
    assert(b.forall(r => r(3) == 1001L))
  }

  test("trailingAnomaly: spike flagged, constant series and warm-up rows never flagged") {
    // user 1: ten 10s then a 1000 spike; user 2: all constant
    val rows = (1 to 10).map(i => (1L, i.toLong, 10L)) ++ Seq((1L, 11L, 1000L)) ++
      (1 to 8).map(i => (2L, i.toLong, 55L))
    val df = rows.toDF("user_id", "seq", "v")
    val got = Robust.trailingAnomaly(df, "user_id", Seq("seq"), "v",
      lookback = 20, minPrev = 5, kSigma = 3, keep = Seq("user_id", "seq", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(5)).toMap
    assert(got((1L, 11L)), "spike must be flagged")
    assert(rows.filterNot(_ == ((1L, 11L, 1000L))).forall { case (u, i, _) => !got((u, i)) },
      "nothing else may be flagged")
    // physical order invariance
    val got2 = Robust.trailingAnomaly(df.repartition(5).sortWithinPartitions("v"),
      "user_id", Seq("seq"), "v", 20, 5, 3, Seq("user_id", "seq", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(5)).toMap
    assert(got2 == got)
  }

  test("trailingAnomaly: kSigma boundary is strict (z exactly k is not anomalous)") {
    // baseline 5 points mean 0, var... construct: prev = {-1,-1,-1,1,1,1}? use
    // simple exactness check: prev = {0,0,0,0,2}, n=5, s=2, ss=4
    // candidate v: (5v-2)^2 > 9*(20-4)=144 ⟺ |5v-2| > 12 ⟺ v >= 3 or v <= -3
    // (v=-2 gives |5v-2| = 12, strictly-greater fails ⇒ not anomalous)
    val rows = Seq(0L, 0L, 0L, 0L, 2L).zipWithIndex.map { case (v, i) => (1L, i.toLong, v) }
    def flagOf(cand: Long): Boolean =
      Robust.trailingAnomaly((rows :+ ((1L, 99L, cand))).toDF("user_id", "seq", "v"),
        "user_id", Seq("seq"), "v", 20, 5, 3, Seq("user_id", "seq", "v"))
        .filter($"seq" === 99L).collect()(0).getBoolean(5)
    assert(!flagOf(2L))
    assert(flagOf(3L))
    assert(!flagOf(-2L))
    assert(flagOf(-3L))
  }

  test("equiDepthBins: uniform values split evenly, ties share a bin, ids exact") {
    val df = (1 to 100).map(i => ("g", i.toLong, i.toLong)).toDF("k", "id", "v")
    val got = Robust.equiDepthBins(df, "k", "v", 4, Seq("k", "id", "v"))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    (1 to 100).foreach { i =>
      assert(got(i.toLong) == (i - 1) / 25, s"value $i in wrong bin ${got(i.toLong)}")
    }
    // heavy tie: one value holding half the mass occupies exactly one bin
    val tied = (Seq.fill(50)(10L) ++ (1L to 50L).map(_ + 100L)).zipWithIndex
      .map { case (v, i) => ("t", i.toLong, v) }.toDF("k", "id", "v")
    val byValue = Robust.equiDepthBins(tied, "k", "v", 4, Seq("k", "id", "v"))
      .collect().map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(byValue(10L) == 0L)
    assert(byValue.filter { case (v, _) => v > 100L }.values.toSet == Set(2L, 3L))
  }

  test("madOutliers: wild value flagged, median/MAD resist it, constants never flag") {
    // 9 values near 10 plus one wild 1000: median 10, MAD small, wild flagged
    val rows = Seq(8L, 9L, 9L, 10L, 10L, 10L, 11L, 11L, 12L, 1000L).zipWithIndex
      .map { case (v, i) => ("g", i.toLong, v) }
    val got = Robust.madOutliers(rows.toDF("k", "id", "v"), "k", "v", 3,
      Seq("k", "id", "v")).collect()
      .map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // n=10 → median = 5th order stat = 10; dev median over {0,0,0,1,1,1,1,2,2,990} = 1
    got.values.foreach { case (med, mad, _) => assert(med == 10L && mad == 1L) }
    assert(got(9L)._3, "wild value must be flagged")
    assert(got.filter(_._1 != 9L).values.forall(!_._3), "no inlier may be flagged")
    // constant group: MAD 0 → only deviations > 0·k flag, i.e. none
    val const = Robust.madOutliers(
      Seq.fill(6)(42L).zipWithIndex.map { case (v, i) => ("c", i.toLong, v) }
        .toDF("k", "id", "v"), "k", "v", 3, Seq("k", "id", "v")).collect()
    assert(const.forall(!_.getBoolean(5)))
  }

  test("winsorize: singleton group clips nothing") {
    val df = Seq(("s", 1L, 42L)).toDF("k", "id", "v")
    val r = Robust.winsorize(df, "k", "v", 0.05, 0.95, Seq("k", "id", "v"))
      .collect()(0)
    assert(r.getLong(3) == 42L && r.getLong(4) == 42L)
    assert(r.getLong(5) == 42L && !r.getBoolean(6))
  }
}
