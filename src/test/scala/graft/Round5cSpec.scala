package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-data ground truths for the third round-5 batch: the KmvAgg
  * bottom-k aggregate (exact eviction order vs a locally computed
  * unsigned sort, merge across partitions), grouped/streamed theta
  * estimates (not-full sketches degrade to exact counts; stream ≡
  * batch), the geometric-mechanism DP noise (independent exact-fraction
  * inverse-CDF replay), and k-NN majority voting (constructed
  * two-cluster embedding space).
  */
class Round5cSpec extends SparkSpec {

  import sqlImplicits._


  test("KmvAgg: bottom-16 equals the locally computed unsigned sort; merges across partitions") {
    val keys = (1 to 300).map(i => s"key-$i")
    val df = keys.toDF("k").repartition(8) // force partial-buffer merges
    val arr = df.agg(graft.functions.SketchAgg.kmvBottomK(col("k"), 16).as("a"))
      .collect()(0).getSeq[Long](0)
    val expected = keys
      .map { s => graft.functions.Hashing.fmix64(graft.functions.Hashing.fnv1a64(s)) }
      .distinct
      .sortWith((a, b) => java.lang.Long.compareUnsigned(a, b) < 0)
      .take(16)
    assert(arr.toSeq == expected.toSeq)
  }

  test("sk_theta_grouped: not-full sketches give exact per-flag counts; duplicates collapse") {
    val li = ((1 to 10).flatMap(o => Seq(("A", o.toLong), ("A", o.toLong))) ++
      (1 to 5).map(o => ("B", o.toLong))).toDF("l_returnflag", "l_orderkey")
    val dir = plant("/tmp/graft-test/kmvg", "lineitem" -> li)
    val out = SparkEntry.queries("sk_theta_grouped")(spark, dir)
      .collect().map(r => r.getAs[String]("l_returnflag") -> r).toMap
    assert(out("A").getAs[Long]("n_sk") == 10L && out("A").getAs[Long]("kmv_est") == 10L)
    assert(out("A").getAs[Long]("exact_nd") == 10L)
    assert(out("B").getAs[Long]("n_sk") == 5L && out("B").getAs[Long]("kmv_est") == 5L)
  }

  test("stream_theta equals the batch sketch on the same table") {
    val li = (1 to 400).map(o => ("A", o.toLong)).toDF("l_returnflag", "l_orderkey")
    val dir = plant("/tmp/graft-test/kmvs", "lineitem" -> li)
    val batch = SparkEntry.queries("sk_theta_grouped")(spark, dir).collect()
    val streamed = SparkEntry.queries("stream_theta")(spark, dir).collect()
    assert(batch.map(_.toString).sorted.toSeq == streamed.map(_.toString).sorted.toSeq)
    // 400 distinct keys overflow k=256: the estimate is a genuine
    // projection now, not the exact count — sanity-band it
    val est = batch.head.getAs[Long]("kmv_est")
    assert(batch.head.getAs[Long]("n_sk") == 256L)
    assert(est > 300L && est < 520L, s"kmv_est $est far outside the ±3σ band")
  }

  test("q_dp: noise matches an independent exact-fraction inverse-CDF replay") {
    val orders = Seq.fill(7)("1-URGENT") ++ Seq.fill(3)("2-HIGH")
    val dir = plant("/tmp/graft-test/dp",
      "orders" -> orders.toDF("o_orderpriority"))
    val out = SparkEntry.queries("q_dp")(spark, dir)
      .collect().map(r => r.getAs[String]("pri") -> r).toMap
    assert(out.size == 2)
    // independent replay: md5 fraction via MessageDigest, inverse CDF
    // walked with BigInt fractions (NOT the query's precomputed longs)
    def expectedNoise(pri: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"dp:$pri".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u32 = java.lang.Long.parseLong(hex, 16)
      val den = BigInt(3) * BigInt(256)
      var cum = BigInt(0)
      val order = 0L +: (1 to 8).flatMap(k => Seq(k.toLong, -k.toLong))
      for (n <- order) {
        cum += (if (n == 0L) BigInt(256) else BigInt(1) << (8 - math.abs(n).toInt))
        // u32 / 2^32 < cum/den  ⇔  u32 · den < cum · 2^32
        if (BigInt(u32) * den < cum * BigInt(2).pow(32)) return n
      }
      9L
    }
    for ((pri, r) <- out) {
      assert(r.getAs[Long]("noise") == expectedNoise(pri), s"noise for $pri")
      assert(r.getAs[Long]("dp_n") == r.getAs[Long]("n") + r.getAs[Long]("noise"))
    }
    assert(out("1-URGENT").getAs[Long]("n") == 7L)
  }

  test("q_drift: CDC snapshot with known update/insert/delete arithmetic") {
    // keys 1..11, $10 'O'/'P' rows: %5 → 5,10 updated ×1.1; %7 → 7
    // deleted; %11 → 11 re-inserted at key+30000000. New state: 11 rows
    // (8×1000c + 2×1100c + 1×1000c) → sum 11200c, max 1100c
    val orders = (1 to 11).map(i => (i.toLong, "O", "P", 10.0))
      .toDF("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
    val dir = plant("/tmp/graft-test/drift", "orders" -> orders)
    val out = SparkEntry.queries("q_drift")(spark, dir)
      .collect().map(r => r.getAs[String]("metric") -> r).toMap
    assert(out.size == 7)
    def check(m: String, base: Long, now: Long): Unit = {
      assert(out(m).getAs[Long]("value_base") == base, s"$m base")
      assert(out(m).getAs[Long]("value_new") == now, s"$m new")
      assert(out(m).getAs[Long]("delta") == now - base, s"$m delta")
    }
    check("n_rows", 11L, 11L)
    check("sum_price_c", 11000L, 11200L)
    check("min_price_c", 1000L, 1000L)
    check("max_price_c", 1000L, 1100L)
    check("nd_status", 1L, 1L)
    check("null_status", 0L, 0L)
  }

  test("q_declist: perfect first stump emits a single stage") {
    val orders = ((1 to 10).map(_ => (java.sql.Date.valueOf("1995-06-01"), "O", 30.0)) ++
      (1 to 10).map(_ => (java.sql.Date.valueOf("1996-06-01"), "F", 30.0)))
      .toDF("o_orderdate", "o_orderstatus", "o_totalprice")
    val dir = plant("/tmp/graft-test/declist1", "orders" -> orders)
    val out = SparkEntry.queries("q_declist")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("stage") == 1L && r.getAs[String]("feature") == "year")
    assert(r.getAs[Long]("n_train") == 20L && r.getAs[Long]("n_correct") == 20L)
  }

  test("q_declist: residual stump separates stage-1's errors exactly") {
    // bin0 ($10): 5×1995 'F' + 5×1996 'F'; bin1 ($30000): 1995 4'O'+2'F',
    // 1996 3'O'+1'F'. Stage 1: price@0 (g 4.2e6 beats year's 9.09e6),
    // predicts 1|0 → 17/20 correct; errors = the three bin-1 'F' rows →
    // stage 2 splits them perfectly on year@1995 (g = 0)
    val d95 = java.sql.Date.valueOf("1995-06-01")
    val d96 = java.sql.Date.valueOf("1996-06-01")
    val rows =
      (1 to 5).map(_ => (d95, "F", 10.0)) ++ (1 to 5).map(_ => (d96, "F", 10.0)) ++
        (1 to 4).map(_ => (d95, "O", 30000.0)) ++ (1 to 2).map(_ => (d95, "F", 30000.0)) ++
        (1 to 3).map(_ => (d96, "O", 30000.0)) ++ Seq((d96, "F", 30000.0))
    val orders = rows.toDF("o_orderdate", "o_orderstatus", "o_totalprice")
    val dir = plant("/tmp/graft-test/declist2", "orders" -> orders)
    val out = SparkEntry.queries("q_declist")(spark, dir)
      .collect().map(r => r.getAs[Long]("stage") -> r).toMap
    assert(out.size == 2)
    val s1 = out(1L)
    assert(s1.getAs[String]("feature") == "price" && s1.getAs[Long]("threshold") == 0L)
    assert(s1.getAs[Long]("pred_left") == 1L && s1.getAs[Long]("pred_right") == 0L)
    assert(s1.getAs[Long]("n_train") == 20L && s1.getAs[Long]("n_correct") == 17L)
    val s2 = out(2L)
    assert(s2.getAs[String]("feature") == "year" && s2.getAs[Long]("threshold") == 1995L)
    assert(s2.getAs[Long]("n_train") == 3L && s2.getAs[Long]("n_correct") == 3L)
  }

  test("sim_knn: two-cluster space — majority label wins, 6 votes each") {
    // pool: 6 vecs near [1,0] labeled 1, 6 near [-1,0] labeled 2; each
    // anchor's top-10 keeps all 6 of its cluster + 4 of the other
    val pool = (0 until 6).map(i => (8L + i, Seq(1f, 0.01f * (i + 1)), 1)) ++
      (0 until 6).map(i => (14L + i, Seq(-1f, 0.01f * (i + 1)), 2))
    val anchors = Seq((0L, Seq(1f, 0f), 1), (1L, Seq(-1f, 0f), 2))
    val emb = (anchors ++ pool).toDF("vec_id", "embedding", "label")
    val dir = plant("/tmp/graft-test/knn", "embeddings" -> emb)
    val out = SparkEntry.queries("sim_knn")(spark, dir)
      .collect().map(r => r.getAs[Long]("query_id") -> r).toMap
    assert(out.size == 2)
    for (id <- Seq(0L, 1L)) {
      assert(out(id).getAs[Int]("pred_label") == out(id).getAs[Int]("truth_label"), s"anchor $id")
      assert(out(id).getAs[Long]("n_votes") == 6L)
    }
  }
}
