package graft

import org.apache.spark.sql.functions._
import graft.ext.Sampling

class SamplingSpec extends SparkSpec {

  import sqlImplicits._

  private def docs = SparkEntry.T(spark, sf0001, "documents")

  test("hashSplit: total, disjoint, deterministic, near-declared fractions") {
    val split = Sampling.hashSplit(docs, col("doc_id"))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(counts.values.sum == n.toLong) // total: every row labeled
    assert(math.abs(counts("train") / n - 0.8) < 0.1)
    assert(math.abs(counts.getOrElse("val", 0L) / n - 0.1) < 0.07)
    assert(math.abs(counts.getOrElse("test", 0L) / n - 0.1) < 0.07)
    // determinism: identical assignment on re-evaluation
    val a = split.select("doc_id", "split").collect().toSet
    val b = Sampling.hashSplit(docs, col("doc_id")).select("doc_id", "split").collect().toSet
    assert(a == b)
  }

  test("hashSample: stable membership, growing fraction is a superset") {
    val s10 = Sampling.hashSample(docs, col("doc_id"), 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s30 = Sampling.hashSample(docs, col("doc_id"), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s10.subsetOf(s30)) // hash thresholds nest
    val n = docs.count().toDouble
    assert(math.abs(s10.size / n - 0.1) < 0.07)
  }

  test("fraction 1.0 keeps ALL rows, 0.0 keeps none (threshold edge, md5=ffffffff)") {
    val n = docs.count()
    // a key hashing to 'ffffffff' is ~1 in 4.3B (unplantable in a test);
    // the fix short-circuits fraction >= 1.0 to literal TRUE, so no key
    // can be dropped regardless of its hash — assert the constant plan
    assert(Sampling.hashSample(docs, col("doc_id"), 1.0).count() == n)
    assert(Sampling.hashSample(docs, col("doc_id"), 0.0).count() == 0)
    assert(Sampling.stratifiedSample(docs, col("lang"), col("doc_id"), 1.0).count() == n)
    assert(Sampling.stratifiedSample(docs, col("source"), col("doc_id"),
      Map("src0" -> 1.0), default = 1.0).count() == n)
    // the 1.0 keep-predicate must not reference the hash at all
    assert(Sampling.hashSample(docs, col("doc_id"), 1.0)
      .queryExecution.optimizedPlan.toString.toLowerCase.indexOf("md5") < 0)
    // hashSplit with a full-width first split sends everything there
    val all = Sampling.hashSplit(docs, col("doc_id"), Seq("a" -> 1.0, "b" -> 0.0))
    assert(all.filter(col("split") === "a").count() == n)
  }

  test("stratifiedSample: per-stratum fractions hold independently") {
    val perLang = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = Sampling.stratifiedSample(docs, col("lang"), col("doc_id"),
      Map("en" -> 0.5, "fr" -> 0.1), default = 0.25)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def frac(l: String) = sampled.getOrElse(l, 0L).toDouble / perLang(l)
    assert(math.abs(frac("en") - 0.5) < 0.15)
    assert(frac("fr") < 0.3)
  }

  test("packSequences: chunked-concatenation placement matches a local scan") {
    val b = 512
    val d = docs.withColumn("n_tokens", ext.TextAnalysis.tokenCount(col("text")))
    val packed = Sampling.packSequences(d, col("lang"), col("doc_id"),
      col("n_tokens"), b)
      .select("lang", "doc_id", "n_tokens", "bin", "bin_offset", "n_bins")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    packed.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, id, tok, bin, off, nbins) =>
        assert(bin == cum / b && off == cum % b, s"doc $id")
        val t = math.max(tok, 1L)
        assert(nbins == (cum + t - 1) / b - cum / b + 1, s"doc $id")
        cum += tok
      }
    }
  }

  test("packGreedy: no straddling, matches a local sequential greedy") {
    val b = 100L
    val data = Seq(
      ("s", 1L, 60L), ("s", 2L, 50L), ("s", 3L, 40L), ("s", 4L, 30L),
      ("s", 5L, 250L), // oversized: starts on a boundary, spans 3 bins
      ("s", 6L, 10L), ("t", 1L, 100L), ("t", 2L, 1L)
    ).toDF("shard", "ord", "tok")
    val placed = Sampling.packGreedy(data, col("shard"), col("ord"), col("tok"), b.toInt)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    // shard s: 60@0 | 50 doesn't fit -> bin1@0, 40 fits bin1@50 -> pos 190 |
    // 30 doesn't fit(190+30=220>200? 190/100=1, 219/100=2 -> no) -> bin2@0,
    // pos 230 | 250 crosses -> boundary 300 -> bin3@0, pos 550 | 10 fits
    // (550..559 within bin5) -> bin5@50
    assert(placed(("s", 1L)) == (0L, 0L))
    assert(placed(("s", 2L)) == (1L, 0L))
    assert(placed(("s", 3L)) == (1L, 50L))
    assert(placed(("s", 4L)) == (2L, 0L))
    assert(placed(("s", 5L)) == (3L, 0L))
    assert(placed(("s", 6L)) == (5L, 50L))
    assert(placed(("t", 1L)) == (0L, 0L))
    assert(placed(("t", 2L)) == (1L, 0L))
  }

  test("weightedSampleK: exact local mirror, zero-weight excluded, boundary distance") {
    val rows = (1L to 400L).map(i => (i, (i % 7) * 10)) // weights 0..60, some zero
    val df = rows.toDF("id", "w")
    // local mirror of the exponential-key draw
    def nlMicro(id: Long): (Long, Double) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val h = java.lang.Long.parseLong(hex, 16)
      val raw = -math.log((h.toDouble + 0.5) / 4294967296.0) * 1e6
      (math.round(raw), raw)
    }
    val keyed = rows.filter(_._2 > 0).map { case (id, w) =>
      (id, w, nlMicro(id)._1, nlMicro(id)._1.toDouble / w)
    }
    val want = keyed.sortBy(t => (t._4, t._1)).take(25).map(t => (t._1, t._3)).toSet
    val got = Sampling.weightedSampleK(df, "id", col("w"), 25)
      .select("id", "nl_micro").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // no zero-weight row may ever be drawn, even with k > |positive rows|
    val all = Sampling.weightedSampleK(df, "id", col("w"), 1000)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(all == rows.filter(_._2 > 0).map(_._1).toSet)
    // fixed-point rounding sits far from every .5 boundary on this draw
    val minDist = rows.map(r => nlMicro(r._1)._2)
      .map(v => math.abs(v - math.floor(v) - 0.5)).min
    assert(minDist > 1e-4, f"nl term within $minDist%.2e of a boundary")
  }

  test("apportion: quotas sum exactly to the budget, largest remainders win") {
    import spark.implicits._
    // counts 7, 2, 1 over budget 10: exact shares 7.0, 2.0, 1.0 → no
    // leftover; counts 5, 4, 2 over budget 10: shares 4.54, 3.63, 1.81 →
    // bases 4, 3, 1 (sum 8), two leftover seats to the two largest
    // remainders (.63 "b", .81 "c") → 4, 4, 2
    val rows = Seq.fill(5)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c")
    val got = Sampling.apportion(rows.toDF("k"), "k", 10L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("a" -> 4L, "b" -> 4L, "c" -> 2L))
    assert(got.values.sum == 10L)
    // property: any weights, any budget — the sum is always exact
    val rows2 = (0 until 97).map(i => s"s${i % 7}")
    val got2 = Sampling.apportion(rows2.toDF("k"), "k", 1000L)
      .collect().map(_.getLong(2))
    assert(got2.sum == 1000L)
  }
}
