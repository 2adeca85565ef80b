package graft

import org.apache.spark.sql.functions._

/** Regression tests for the round-7 advice items: degenerate inputs must
  * degrade the way the oracle would (fewer rows), never crash the
  * driver, and type holes must fail at analysis time, never read
  * garbage.
  */
class EdgeCaseSpec extends SparkSpec {

  test("srch_mmr with an empty BM25 pool returns 0 rows, not a crash") {
    // a corpus where no document contains any query term -> empty pool
    val dir = s"${sys.props("java.io.tmpdir")}/graft-edge/no-hits"
    import spark.implicits._
    Seq((1L, "alpha beta gamma", "en", "web", 16L),
        (2L, "delta epsilon zeta", "en", "web", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("srch_mmr")(spark, dir)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("rank", "doc_id", "score_bp",
      "rel_norm_micro", "maxsim_micro", "mmr_score"))
  }

  test("srch_mmr with a pool smaller than k emits that many rows") {
    // exactly one document matches a query term -> pool of 1, top-1 out
    val dir = s"${sys.props("java.io.tmpdir")}/graft-edge/one-hit"
    import spark.implicits._
    Seq((1L, "spark in the corpus", "en", "web", 19L),
        (2L, "unrelated words only", "en", "web", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("srch_mmr")(spark, dir).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 1L)
  }

  test("vector kernels reject non-float/double element types at analysis") {
    import spark.implicits._
    val ints = Seq((1L, Array(1, 2, 3))).toDF("id", "v")
    val e = intercept[Exception] {
      ints.select(graft.functions.VectorExprs.dot(col("v"), col("v"))).collect()
    }
    assert(e.getMessage.contains("float or double"),
      s"expected the element-type analysis error, got: ${e.getMessage}")
    val e2 = intercept[Exception] {
      ints.select(graft.functions.VectorExprs.norm(col("v"))).collect()
    }
    assert(e2.getMessage.contains("float or double"))
    // the valid types still pass
    val d = Seq((1L, Array(3.0, 4.0))).toDF("id", "v")
      .select(graft.functions.VectorExprs.norm(col("v"))).head().getDouble(0)
    assert(math.abs(d - 5.0) < 1e-12)
  }

  /** Writes `orders.parquet` (o_orderdate, o_totalprice) under a temp dir;
    * a None date is a null o_orderdate.
    */
  private def ordersDir(name: String, rows: Seq[(Option[String], Double)]): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft-edge/$name"
    import spark.implicits._
    rows.toDF("d", "o_totalprice")
      .select(to_date(col("d")).as("o_orderdate"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    dir
  }

  /** A Holt query's rows, its date column rendered as a string (null kept). */
  private def holtRows(query: String, dir: String): Seq[Seq[Any]] = {
    val out = SparkEntry.queries(query)(spark, dir)
    out.withColumn("d", col("d").cast("string")).collect().map(_.toSeq).toSeq
  }

  test("q_holt keeps a null o_orderdate group, last, as the oracle orders it") {
    val dir = ordersDir("holt-null", Seq(Some("1995-01-01") -> 10.0,
      Some("1995-01-02") -> 20.0, None -> 5.0, Some("1995-01-03") -> 40.0))
    assert(holtRows("q_holt", dir) == Seq(
      Seq("1995-01-01", 1000L, 1000.0, 1000.0),
      Seq("1995-01-02", 2000L, 2000.0, 1000.0),
      Seq("1995-01-03", 4000L, 3500.0, 1250.0),
      Seq(null, 500L, 2625.0, 187.5)))
  }

  test("q_holt_winters keeps a null o_orderdate group last; the dated rows are unchanged") {
    val days = (1 to 15).map(i => Some(f"1995-01-$i%02d") -> (10.0 * i + i % 3))
    val withNull = holtRows("q_holt_winters", ordersDir("hw-null", days :+ (None -> 5.0)))
    val without = holtRows("q_holt_winters", ordersDir("hw-no-null", days))
    assert(withNull.length == 16)
    assert(withNull.last.head == null && withNull.last(1) == 500L)
    assert(withNull.take(15) == without)
  }
}
