package graft

/** Ground truths for the geo batch, each checked against an independent
  * Scala reimplementation (real bit ops / math.* haversine / union-find)
  * rather than the SQL unrolls under test.
  */
class Round5ySpec extends SparkSpec {

  import sqlImplicits._

  private def lat(key: Long, mul: Long) = (key * mul) % 180000000L - 90000000L
  private def lon(key: Long, mul: Long) = (key * mul) % 360000000L - 180000000L
  private val (cLatM, cLonM) = (2654435761L, 2246822519L)
  private val (sLatM, sLonM) = (1540483477L, 1327217885L)

  /** Reference geohash via actual bit twiddling (not div/mod unrolls). */
  private def geohash4(latMicro: Long, lonMicro: Long): String = {
    val latQ = ((latMicro + 90000000L) * 32768L / 180000000L).toInt
    val lonQ = ((lonMicro + 180000000L) * 32768L / 360000000L).toInt
    var v = 0L
    for (k <- 0 until 15) {
      v |= ((lonQ >> (14 - k)) & 1).toLong << (29 - 2 * k)
      v |= ((latQ >> (14 - k)) & 1).toLong << (28 - 2 * k)
    }
    val cs = "0123456789bcdefghjkmnpqrstuvwxyz"
    (0 until 4).map(i => cs(((v >> (25 - 5 * i)) & 31).toInt)).mkString
  }

  private def haversineM(clat: Long, clon: Long, slat: Long, slon: Long): Long = {
    val h = math.sin((slat - clat) * 8.726646259971648e-9) * math.sin((slat - clat) * 8.726646259971648e-9) +
      math.cos(slat * 1.7453292519943295e-8) * math.cos(clat * 1.7453292519943295e-8) *
        math.sin((slon - clon) * 8.726646259971648e-9) * math.sin((slon - clon) * 8.726646259971648e-9)
    math.round(12742000.0 * math.asin(math.sqrt(h)))
  }

  test("geo_geohash: div/mod interleave matches real bit twiddling per cell") {
    val cust = (1L to 200L).map(k => (k, 10.0 + k)).toDF("c_custkey", "c_acctbal")
    val dir = plant("/tmp/graft-test/geohash", "customer" -> cust)
    val got = SparkEntry.queries("geo_geohash")(spark, dir).collect()
      .map(r => r.getAs[String]("cell") -> (r.getAs[Long]("n_customers"), r.getAs[Long]("sum_bal_c"))).toMap
    val exp = (1L to 200L).groupBy(k => geohash4(lat(k, cLatM), lon(k, cLonM)))
      .map { case (c, ks) => c -> (ks.size.toLong, ks.map(k => math.round((10.0 + k) * 100)).sum) }
    assert(got == exp)
    assert(got.keys.forall(_.length == 4))
  }

  test("geo_knn: top-5 per probe matches brute-force haversine exactly") {
    val cust = (1L to 3L).map(k => (k, 0.0)).toDF("c_custkey", "c_acctbal")
    val supp = (1L to 40L).map(k => Tuple1(k)).toDF("s_suppkey")
    val dir = plant("/tmp/graft-test/geoknn", "customer" -> cust, "supplier" -> supp)
    val rows = SparkEntry.queries("geo_knn")(spark, dir).collect()
    assert(rows.length == 15) // 3 probes × 5
    for (probe <- 1L to 3L) {
      val exp = (1L to 40L)
        .map(sk => (sk, haversineM(lat(probe, cLatM), lon(probe, cLonM),
          lat(sk, sLatM), lon(sk, sLonM))))
        .sortBy { case (sk, d) => (d, sk) }.take(5)
      val got = rows.filter(_.getAs[Long]("c_custkey") == probe).sortBy(_.getAs[Long]("rk"))
        .map(r => (r.getAs[Long]("s_suppkey"), r.getAs[Long]("dist_m"))).toSeq
      assert(got == exp, s"probe $probe")
    }
  }

  test("geo_cluster: component labels agree with a union-find over core cells") {
    val cust = (1L to 600L).map(k => (k, 0.0)).toDF("c_custkey", "c_acctbal")
    val dir = plant("/tmp/graft-test/geocluster", "customer" -> cust)
    val got = SparkEntry.queries("geo_cluster")(spark, dir).collect()
      .map(r => r.getAs[Long]("cluster") -> (r.getAs[Long]("n_cells"), r.getAs[Long]("n_points"))).toMap

    // independent union-find over the same grid
    val cells = (1L to 600L).groupBy { k =>
      ((lat(k, cLatM) + 90000000L) / 10000000L, (lon(k, cLonM) + 180000000L) / 10000000L)
    }.view.mapValues(_.size.toLong).toMap
    val core = cells.filter(_._2 >= 3L)
    val parent = scala.collection.mutable.Map(core.keys.map(c => c -> c).toSeq: _*)
    def find(c: (Long, Long)): (Long, Long) =
      if (parent(c) == c) c else { val r = find(parent(c)); parent(c) = r; r }
    for (((cy, cx), _) <- core; dy <- -1L to 1L; dx <- -1L to 1L
         if (dy, dx) != ((0L, 0L)) && core.contains((cy + dy, cx + dx))) {
      val (a, b) = (find((cy, cx)), find((cy + dy, cx + dx)))
      if (a != b) parent(a) = b
    }
    val exp = core.keys.toSeq.groupBy(find).map { case (_, cs) =>
      val ids = cs.map { case (cy, cx) => cy * 100 + cx }
      ids.min -> (cs.size.toLong, cs.map(c => core(c)).sum)
    }
    assert(got == exp)
  }
}
