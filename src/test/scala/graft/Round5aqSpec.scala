package graft

import java.sql.Date

/** Ground truths for the EVT / mix-shift / sharpness batch: Gumbel
  * moments on three drawn block maxima, a decomposition whose two terms
  * are computed on paper, and Laplacian variance replayed from the
  * closed-form grid.
  */
class Round5aqSpec extends SparkSpec {

  import sqlImplicits._

  test("q_evt: three block maxima match the method-of-moments closed form") {
    // Jan max 100c, Feb max 200c, Mar max 600c (daily sums = the rows)
    val li = Seq(("2024-01-05", 1.0), ("2024-01-20", 0.5),
      ("2024-02-10", 2.0), ("2024-03-15", 6.0))
      .map { case (d, v) => (Date.valueOf(d), v) }
      .toDF("l_shipdate", "l_extendedprice")
    val dir = plant("/tmp/graft-test/evt", "lineitem" -> li)
    val r = SparkEntry.queries("q_evt")(spark, dir).collect().head
    assert(r.getAs[Long]("n_blocks") == 3L)
    val xs = Seq(100.0, 200.0, 600.0)
    val n = 3.0; val sm = xs.sum; val smm = xs.map(x => x * x).sum
    val beta = math.sqrt((n * smm - sm * sm) / (n * (n - 1))) * 0.7796968012336761
    val mu = sm / n - 0.5772156649015329 * beta
    assert(r.getAs[Long]("beta_c") == math.round(beta))
    assert(r.getAs[Long]("mu_c") == math.round(mu))
    assert(r.getAs[Long]("rl12_c") == math.round(mu - beta * (-2.441716398881459)))
  }

  test("q_mix_shift: two brands, terms on paper") {
    // brand A: '97 60 rows 30 R (r0=.5), '98 20 rows 10 R (r1=.5)
    // brand B: '97 40 rows 0 R,          '98 80 rows 40 R (r1=.5)
    val li = (Seq.fill(30)(("A", "1997-06-01", "R")) ++ Seq.fill(30)(("A", "1997-06-01", "N")) ++
      Seq.fill(10)(("A", "1998-06-01", "R")) ++ Seq.fill(10)(("A", "1998-06-01", "N")) ++
      Seq.fill(40)(("B", "1997-06-01", "N")) ++
      Seq.fill(40)(("B", "1998-06-01", "R")) ++ Seq.fill(40)(("B", "1998-06-01", "N")))
      .zipWithIndex.map { case ((b, d, f), i) =>
        (i.toLong, b, Date.valueOf(d), f)
      }.toDF("l_partkey", "p_brand_src", "l_shipdate", "l_returnflag")
    val part = li.select(org.apache.spark.sql.functions.col("l_partkey").as("p_partkey"),
      org.apache.spark.sql.functions.col("p_brand_src").as("p_brand"))
    val dir = plant("/tmp/graft-test/mixshift",
      "lineitem" -> li.drop("p_brand_src"), "part" -> part)
    val rows = SparkEntry.queries("q_mix_shift")(spark, dir).collect()
      .map(r => r.getAs[String]("p_brand") -> r).toMap
    val a = rows("A")
    assert(a.getAs[Long]("w0_micro") == 600000L && a.getAs[Long]("w1_micro") == 200000L)
    assert(a.getAs[Long]("r0_micro") == 500000L && a.getAs[Long]("r1_micro") == 500000L)
    assert(a.getAs[Long]("mix_term_micro") == (-400000L * 500000) / 1000000)
    assert(a.getAs[Long]("rate_term_micro") == 0L)
    val b = rows("B")
    assert(b.getAs[Long]("mix_term_micro") == 0L) // r0 = 0
    assert(b.getAs[Long]("rate_term_micro") == (800000L * 500000) / 1000000)
  }

  test("mm_sharpness: Laplacian variance replays the closed-form grid") {
    val docs = Seq((11L, "x")).toDF("doc_id", "text")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
    val dir = plant("/tmp/graft-test/sharp", "documents" -> docs)
    val r = SparkEntry.queries("mm_sharpness")(spark, dir).collect().head
    val id = 11L
    val a = 1 + (id % 7).toInt; val b = 1 + (id % 5).toInt; val c = (id % 256).toInt
    def l(x: Int, y: Int) = ((a * x + b * y + c) % 256).toLong
    var s = 0L; var ss = 0L; var n = 0L
    for (y <- 1 until 31; x <- 1 until 31) {
      val v = 4 * l(x, y) - l(x - 1, y) - l(x + 1, y) - l(x, y - 1) - l(x, y + 1)
      s += v; ss += v * v; n += 1
    }
    assert(r.getAs[Long]("n_px") == 900L)
    assert(r.getAs[Long]("lap_var") == (n * ss - s * s) / (n * n))
  }
}
