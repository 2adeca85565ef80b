package graft

import graft.operators.Ops
import graft.plans._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Unit tests per SURVEY §2 operator: semantics, null propagation, typing,
  * collision suffixing, strict casts, temp-column cleanup.
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  private def df: DataFrame = Seq(
    (1L, "a", 10.0, "2024-01-15", "$10.50"),
    (2L, "b", 20.0, "2024-02-20", "$20.00"),
    (3L, null, 30.0, "2024-03-25", "$0.25")
  ).toDF("id", "name", "amount", "d", "price")

  test("equality copies a column under a new name, keeping the original") {
    val r = Ops.equality(df, Equality("name", Some("name2")))
    assert(r.columns.toSeq == Seq("id", "name", "amount", "d", "price", "name2"))
    assert(r.select("name2").collect().map(_.getString(0)).toSeq == Seq("a", "b", null))
  }

  test("concatenation interleaves separator and PROPAGATES nulls (not concat_ws)") {
    val r = Ops.concatenation(df, Concatenation(Seq("id", "name"), "-", Some("c")))
    assert(r.select("c").collect().map(_.getString(0)).toSeq == Seq("1-a", "2-b", null))
  }

  test("concatenation with empty separator casts all inputs to string") {
    val r = Ops.concatenation(df, Concatenation(Seq("id", "amount"), "", Some("c")))
    assert(r.select("c").collect().map(_.getString(0)).toSeq == Seq("110.0", "220.0", "330.0"))
  }

  test("application compiles replace-lambda to native columns (no UDF)") {
    val r = Ops.application(df, Application(Seq("price"), "lambda r: r['price'].replace('$', '')", Some("p")))
    assert(r.select("p").collect().map(_.getString(0)).toSeq == Seq("10.50", "20.00", "0.25"))
    // plan must not contain any UDF node
    val plan = r.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("udf"))
  }

  test("switching maps literal keys to source columns with default value") {
    val r = Ops.switching(df, Switching("name", Seq(("a", "amount"), ("b", "id")), None, Some(0.0), Some("sw")))
    // 'a' → amount(10.0), 'b' → id(2) ; null name → default 0.0
    val got = r.select("sw").collect().map(_.get(0)).toSeq
    assert(got == Seq(10.0, 2.0, 0.0))
  }

  test("switching with numeric keys coerces to switch column type") {
    val r = Ops.switching(df, Switching("id", Seq(("1", "name")), Some("name"), None, Some("sw")))
    assert(r.select("sw").collect().map(_.getString(0)).toSeq == Seq("a", "b", null))
  }

  test("switching with empty mapping yields the default everywhere (edge case parity)") {
    val r = Ops.switching(df, Switching("name", Nil, None, Some("fallback"), Some("sw")))
    assert(r.select("sw").collect().map(_.getString(0)).toSeq == Seq("fallback", "fallback", "fallback"))
  }

  test("fold renders date value columns as ISO strings in the supertype cast") {
    val dd = Ops.casting(df, Casting("d", SchemaType.Dt, Some("dt")))
    val r = Ops.fold(dd, Fold(Seq("id"), Seq("dt", "amount"), "key", "value"))
    val dtRows = r.filter(org.apache.spark.sql.functions.col("key") === "dt")
      .select("value").collect().map(_.getString(0)).toSeq
    assert(dtRows == Seq("2024-01-15", "2024-02-20", "2024-03-25"))
  }

  test("assignation types YAML scalars as Int64/Float64 (LongType/DoubleType)") {
    val r1 = Ops.assignation(df, Assignation(java.lang.Integer.valueOf(5), Some("k")))
    assert(r1.schema("k").dataType == LongType)
    val r2 = Ops.assignation(df, Assignation(java.lang.Double.valueOf(5.5), Some("k")))
    assert(r2.schema("k").dataType == DoubleType)
    val r3 = Ops.assignation(df, Assignation("UNKNOWN", Some("k")))
    assert(r3.schema("k").dataType == StringType)
  }

  test("casting string→date and string→float; strict on garbage (ANSI)") {
    val r = Ops.casting(df, Casting("d", SchemaType.Dt, Some("dd")))
    assert(r.schema("dd").dataType == DateType)
    assert(r.select("dd").collect().head.getDate(0).toString == "2024-01-15")
    val bad = Ops.casting(df, Casting("price", SchemaType.Flt, Some("x")))
    // "$10.50" is not a float — ANSI cast must raise like Polars strict cast
    intercept[Exception] { bad.collect() }
  }

  test("arithmetic + - * preserve Int64; / always yields Double") {
    val two = Seq((10L, 4L)).toDF("a", "b")
    assert(Ops.arithmetic(two, Arithmetic(Seq("a", "b"), "+", Some("r"))).schema("r").dataType == LongType)
    val div = Ops.arithmetic(two, Arithmetic(Seq("a", "b"), "/", Some("r")))
    assert(div.schema("r").dataType == DoubleType)
    assert(div.select("r").collect().head.getDouble(0) == 2.5)
  }

  test("comparison against literal yields boolean; strict type check rejects string-vs-numeric") {
    val r = Ops.comparison(df, Comparison("amount", ">", java.lang.Integer.valueOf(15), Some("big")))
    assert(r.select("big").collect().map(_.getBoolean(0)).toSeq == Seq(false, true, true))
    intercept[IllegalArgumentException] {
      Ops.comparison(df, Comparison("name", ">", java.lang.Integer.valueOf(15), Some("x")))
    }
  }

  test("comparison of a date column against an ISO string literal works (casting path)") {
    val dd = Ops.casting(df, Casting("d", SchemaType.Dt, Some("dt")))
    val r = Ops.comparison(dd, Comparison("dt", ">=", "2024-02-01", Some("late")))
    assert(r.select("late").collect().map(_.getBoolean(0)).toSeq == Seq(false, true, true))
  }

  test("fold pre-casts heterogeneous value columns to supertype then unpivots") {
    val r = Ops.fold(df, Fold(Seq("id"), Seq("name", "amount"), "key", "value"))
    assert(r.columns.toSeq == Seq("id", "key", "value"))
    assert(r.schema("value").dataType == StringType) // string+double → string
    assert(r.count() == 6)
    val firstId = r.filter($"id" === 1L).collect().map(r => (r.getString(1), r.getString(2))).toMap
    assert(firstId == Map("name" -> "a", "amount" -> "10.0"))
  }

  test("unfold pivots with first-appearance header order and FIRST aggregation") {
    val long = Seq((1L, "z_key", 1.0), (1L, "a_key", 2.0), (2L, "z_key", 3.0)).toDF("id", "k", "v")
    val r = Ops.unfold(long, Unfold(Seq("id"), "k", "v"))
    // header order = first appearance (z_key before a_key), NOT alphabetical
    assert(r.columns.toSeq == Seq("id", "z_key", "a_key"))
    val byId = r.collect().map(row => row.getLong(0) -> (Option(row.get(1)), Option(row.get(2)))).toMap
    assert(byId(1L) == (Some(1.0), Some(2.0)))
    assert(byId(2L) == (Some(3.0), None))
  }

  test("unfold releases its snapshot without caller clearCache") {
    // the snapshot must never enter the catalog cache (which only
    // clearCache() empties), and its RDD blocks must be reclaimed by the
    // ContextCleaner once the result frame is unreachable. Assertions are
    // scoped to THIS unfold (result-plan lookup + delta RDD ids) — global
    // cache emptiness is racy when other suites share the session.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def runScoped(): scala.collection.immutable.Set[Int] = {
      val long = Seq((1L, "z_key", 1.0), (1L, "a_key", 2.0), (2L, "z_key", 3.0)).toDF("id", "k", "v")
      val res = Ops.unfold(long, Unfold(Seq("id"), "k", "v"))
      assert(res.count() == 2L)
      assert(spark.sharedState.cacheManager
        .lookupCachedData(res.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]).isEmpty,
        "unfold must not register a catalog-cached relation for its result")
      spark.sparkContext.getPersistentRDDs.keySet.diff(before).toSet
    }
    val mine = runScoped()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var pinned = mine.intersect(spark.sparkContext.getPersistentRDDs.keySet.toSet)
    while (pinned.nonEmpty && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(200)
      pinned = mine.intersect(spark.sparkContext.getPersistentRDDs.keySet.toSet)
    }
    assert(pinned.isEmpty, s"unfold snapshot blocks still pinned: RDD ids $pinned")
  }

  test("runner drops assignation temp columns named _*_ after all ops") {
    val ops = Seq(
      Assignation("tmp", Some("_scratch_")),
      Equality("_scratch_", Some("kept")),
      Assignation("x", Some("_other_")))
    val r = Runner.applyAll(spark, df, ops, Map.empty)
    assert(!r.columns.contains("_scratch_") && !r.columns.contains("_other_"))
    assert(r.columns.contains("kept"))
  }

  test("unknown operation types are skipped with a warning (reference parity)") {
    val r = Runner.applyAll(spark, df, Seq(UnknownOp("frobnicate")), Map.empty)
    assert(r.columns.toSeq == df.columns.toSeq)
  }

  // ---- extended ops ----

  test("aggregate: collect_set_size, stddev_pop, median") {
    val d = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("b", 5L)).toDF("g", "v")
    val r = Ops.aggregate(d, AggregateOp(Seq("g"), Seq(
      "nset" -> ("collect_set_size", "v"),
      "sdp" -> ("stddev_pop", "v"),
      "med" -> ("median", "v"))))
    val m = r.collect().map(x => x.getString(0) -> (x.getInt(1), x.getDouble(2), x.getDouble(3))).toMap
    assert(m("a")._1 == 2 && m("b")._1 == 1)
    assert(math.abs(m("a")._2 - math.sqrt(2.0 / 9)) < 1e-12 && m("b")._2 == 0.0)
    assert(m("a")._3 == 2.0 && m("b")._3 == 5.0)
  }

  test("aggregate rollup/cube produce subtotal rows with null group keys") {
    val d = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 3L)).toDF("g1", "g2", "v")
    val roll = Ops.aggregate(d, AggregateOp(Seq("g1", "g2"),
      Seq("s" -> ("sum", "v")), mode = "rollup")).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2))).toSet
    assert(roll == Set(
      (Some("a"), Some("x"), 1L), (Some("a"), Some("y"), 2L), (Some("b"), Some("x"), 3L),
      (Some("a"), None, 3L), (Some("b"), None, 3L), (None, None, 6L)))
    val cube = Ops.aggregate(d, AggregateOp(Seq("g1", "g2"),
      Seq("s" -> ("sum", "v")), mode = "cube")).count()
    assert(cube == 8) // rollup rows + (None, x)=4, (None, y)=2
  }

  test("window percent_rank/cume_dist/first/last") {
    val d = Seq(("g", 1L), ("g", 2L), ("g", 4L)).toDF("k", "v")
    def run(f: String) = Ops.windowOp(d, WindowOp(Seq("k"), Seq(("v", true)), f, Some("v"), Some("o")))
      .orderBy("v").collect().map(_.get(2)).toSeq
    assert(run("percent_rank") == Seq(0.0, 0.5, 1.0))
    assert(run("cume_dist").map(_.asInstanceOf[Double]).map(x => math.round(x * 6)) == Seq(2L, 4L, 6L))
    assert(run("first") == Seq(1L, 1L, 1L))
    assert(run("last") == Seq(4L, 4L, 4L))
  }

  test("native top-k aggregate equals the window formulation and runs as ObjectHashAggregate") {
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      // (price, orderkey*10+line) unique per group for deterministic top-k
      .withColumn("tie", col("l_orderkey") * 10 + col("l_linenumber"))
    val topk = li.groupBy("l_returnflag")
      .agg(graft.functions.TopKAgg.topK(5, col("l_extendedprice"), col("tie"),
        org.apache.spark.sql.functions.struct(col("tie"), col("l_extendedprice"))).as("top"))
      .select(col("l_returnflag"), org.apache.spark.sql.functions.explode(col("top")).as("r"))
      .select(col("l_returnflag"), col("r.tie"), col("r.l_extendedprice"))
    val viaWindow = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice").desc, col("tie").asc)
      li.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rn") <= 5).select("l_returnflag", "tie", "l_extendedprice")
    }
    val a = topk.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val b = viaWindow.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
    assert(a.nonEmpty)
    // partial-aggregate path: ObjectHashAggregate, not a window over all rows
    val plan = topk.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
  }

  test("unfold fails fast above the pivot-key cardinality guard") {
    val long = Seq((1L, "a", 1.0), (1L, "b", 2.0), (1L, "c", 3.0)).toDF("id", "k", "v")
    System.setProperty("graft.unfold.maxKeys", "2")
    try {
      val e = intercept[IllegalArgumentException] { Ops.unfold(long, Unfold(Seq("id"), "k", "v")) }
      assert(e.getMessage.contains("distinct values"))
    } finally System.clearProperty("graft.unfold.maxKeys")
    // under the cap it still pivots fine
    assert(Ops.unfold(long, Unfold(Seq("id"), "k", "v")).columns.toSeq == Seq("id", "a", "b", "c"))
    // a cap <= 0 is a configuration error, not a rejection of every unfold
    System.setProperty("graft.unfold.maxKeys", "0")
    try {
      val e = intercept[IllegalArgumentException] { Ops.unfold(long, Unfold(Seq("id"), "k", "v")) }
      assert(e.getMessage.contains("graft.unfold.maxKeys"))
    } finally System.clearProperty("graft.unfold.maxKeys")
  }

  test("filter/aggregate/sort/window/distinct extended ops") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val f = Ops.filterOp(li, FilterOp("lambda r: r['l_quantity'] > 25.0"))
    assert(f.count() > 0 && f.count() < li.count())

    val agg = Ops.aggregate(li, AggregateOp(Seq("l_returnflag"),
      Seq("n" -> ("count", "*"), "qty" -> ("sum", "l_quantity"))))
    assert(agg.columns.toSeq == Seq("l_returnflag", "n", "qty"))

    val top = Ops.sortOp(agg, SortOp(Seq(("qty", false)), Some(2)))
    assert(top.count() == 2)

    val w = Ops.windowOp(li.select("l_orderkey", "l_linenumber", "l_quantity"),
      WindowOp(Seq("l_orderkey"), Seq(("l_linenumber", true)), "row_number", None, Some("rn")))
    assert(w.filter($"rn" === 1).count() > 0)

    val d = Ops.distinctOp(li, DistinctOp(Seq("l_returnflag")))
    assert(d.count() == li.select("l_returnflag").distinct().count())
  }
}
