package graft

import graft.operators.Ops
import graft.plans._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{lit, rand}
import org.apache.spark.sql.types._

/** The three primitives the external LLM flow-generation loop consumes
  * (SURVEY §3.2): tryApply (trial-run feedback), schemaDiff, sampleJson.
  */
class AgentApiSpec extends SparkSpec {
  import spark.implicits._

  private def fullSample(df: DataFrame, n: Int): String =
    df.limit(n).toJSON.collect().mkString("[", ",", "]")

  private def applied(r: Either[String, DataFrame]): DataFrame =
    r.fold(msg => fail(s"step rejected: $msg"), identity)

  private lazy val orders = Seq(
    (1L, 10L, "$12.50", 2L, "2024-01-15"),
    (2L, 11L, "$3.00", 10L, "2024-02-01"),
    (3L, 99L, "$7.25", 1L, "2024-02-29"),
    (4L, 10L, "$40.00", 3L, "2024-03-10"),
    (5L, 12L, "$0.99", 7L, "2024-04-01"),
    (6L, 11L, "$15.00", 4L, "2024-05-05"))
    .toDF("order_id", "customer_id", "unit_price", "quantity", "order_date")

  /** A bind onto a small CSV of customers (customer 99 is absent → nulls). */
  private lazy val bindCustomers: Bind = bindOn("10,FR\n11,DE\n12,FR\n", "left")

  private lazy val df = Seq((1L, "a", "2024-01-15"), (2L, "b", "not-a-date"))
    .toDF("id", "name", "d")

  test("tryApply commits good operations and returns feedback for bad ones") {
    val ok = AgentApi.tryApply(spark, df, Equality("name", Some("n2")), Map.empty)
    assert(ok.isRight)
    assert(ok.toOption.get.columns.contains("n2"))

    // unknown input column → analysis error surfaced as feedback text
    val bad = AgentApi.tryApply(spark, df, Equality("nope", Some("x")), Map.empty)
    assert(bad.isLeft)
    assert(bad.left.toOption.get.contains("nope"))

    // runtime failure (strict cast on bad data) also becomes feedback —
    // the trial-run loop (reference main.py:255) depends on this
    val badCast = AgentApi.tryApply(spark, df, Casting("d", SchemaType.Dt, Some("dd")), Map.empty)
    assert(badCast.isLeft)
  }

  test("schemaDiff produces actionable feedback and passes on conformance") {
    val target = FileSchema("t", Seq(
      "id" -> ColumnDef(SchemaType.Int64),
      "name" -> ColumnDef(SchemaType.Str),
      "missing_col" -> ColumnDef(SchemaType.Flt)))
    val diff = AgentApi.schemaDiff(df, target)
    assert(diff.isDefined && diff.get.contains("missing_col"))
    val target2 = FileSchema("t", Seq("id" -> ColumnDef(SchemaType.Int64)))
    assert(AgentApi.schemaDiff(df, target2).isEmpty)
  }

  test("sampleJson returns a bounded JSON array of rows") {
    val json = AgentApi.sampleJson(df, 2)
    assert(json.startsWith("[") && json.endsWith("]"))
    assert(json.contains("\"id\":1") && json.contains("\"name\":\"a\""))
    assert(!json.contains("not-a-date") || json.count(_ == '{') <= 2)
  }

  test("every step's sample and schema equal the full frame's, through a reference-shaped chain") {
    val chain: Seq[Operation] = Seq(
      bindCustomers,
      Casting("order_date", SchemaType.Dt, Some("order_date_dt")),
      Application(Seq("unit_price"), "lambda r: float(r['unit_price'].replace('$', ''))", Some("price")),
      Arithmetic(Seq("price", "quantity"), "*", Some("total")),
      Comparison("total", ">", 20.0, Some("big")),
      Assignation(0.0, Some("other")),
      Switching("country", Seq("FR" -> "total"), None, Some(0.0), Some("fr")),
      Switching("country", Seq("DE" -> "total"), None, Some(0.0), Some("de")),
      Fold(Seq("country", "order_id"), Seq("fr", "de", "other"), "key", "value"),
      Unfold(Seq("country", "order_id"), "key", "value"))
    chain.indices.foldLeft(orders) { (df, i) =>
      val next = applied(AgentApi.tryApply(spark, df, chain(i), Map.empty))
      // the same prefix applied op by op, never seen by tryApply
      val full = chain.take(i + 1).foldLeft(orders)((acc, op) => Ops.applyOp(spark, acc, op, Map.empty))
      assert(next.schema == full.schema, s"step ${i + 1} (${chain(i).opType})")
      assert(AgentApi.sampleJson(next, 3) == fullSample(full, 3), s"step ${i + 1} (${chain(i).opType})")
      next
    }
  }

  test("a row-local step on a recorded head starts no job; a bind still runs its jobs") {
    val (bound, bindJobs) = jobsDuring(applied(AgentApi.tryApply(spark, orders, bindCustomers, Map.empty)))
    assert(bindJobs > 0)
    val (cast, castJobs) = jobsDuring(applied(
      AgentApi.tryApply(spark, bound, Casting("order_date", SchemaType.Dt, Some("d")), Map.empty)))
    assert(castJobs == 0)
    val (sample, sampleJobs) = jobsDuring(AgentApi.sampleJson(cast, 3))
    assert(sampleJobs == 0)
    assert(sample == fullSample(cast, 3))
  }

  test("an unparseable cast on a recorded head is rejected with feedback, without a job") {
    val base = applied(AgentApi.tryApply(spark, spark.range(4).toDF("id")
      .withColumn("d", lit("not-a-date")), Equality("id", Some("id2")), Map.empty))
    val (bad, jobs) = jobsDuring(
      AgentApi.tryApply(spark, base, Casting("d", SchemaType.Dt, Some("dd")), Map.empty))
    assert(bad.isLeft && bad.left.toOption.get.trim.nonEmpty)
    assert(jobs == 0)
  }

  test("sampleJson beyond the trial's rows, or on an untried frame, equals limit(n).toJSON") {
    val next = applied(AgentApi.tryApply(spark, orders, Equality("order_id", Some("id2")), Map.empty))
    assert(AgentApi.sampleJson(next, 5) == fullSample(next, 5))
    assert(AgentApi.sampleJson(next, 2) == fullSample(next, 2))
    val untried = Ops.applyOp(spark, orders, Equality("order_id", Some("id2")), Map.empty)
    assert(AgentApi.sampleJson(untried, 3) == fullSample(untried, 3))
    // a trial that saw fewer rows than its bound saw the whole frame
    val small = applied(AgentApi.tryApply(spark, df, Equality("id", Some("id2")), Map.empty))
    assert(AgentApi.sampleJson(small, 10) == fullSample(small, 10))
  }

  test("a nondeterministic plan takes the full trial run") {
    def trial(base: DataFrame) = {
      val recorded = applied(AgentApi.tryApply(spark, base, Equality("id", Some("id2")), Map.empty))
      jobsDuring(AgentApi.tryApply(spark, recorded, Equality("r", Some("r2")), Map.empty))._2
    }
    assert(trial(spark.range(6).toDF("id").withColumn("r", lit(0.5))) == 0)
    assert(trial(spark.range(6).toDF("id").withColumn("r", rand(7))) > 0)
  }

  /** Jobs, SQL executions (actions, also one that starts no job) and task
    * input rows started while `body` runs; a job outside any execution
    * counts as one.
    */
  private final case class Work(jobs: Int, executions: Int, rowsRead: Long)

  private def workDuring[T](body: => T): (T, Work) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val out = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse(s"job ${e.jobId}"))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => rows.addAndGet(m.inputMetrics.recordsRead))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => queries.add(s.executionId.toString)
        case _ =>
      }
    })(body)
    val ids = jobs.toArray.toSeq
    (out, Work(ids.size, (ids ++ queries.toArray.toSeq).distinct.size, rows.get))
  }

  /** Janino compiles (generated projections, whole-stage code) during `body`. */
  private def compilesDuring[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** Replays `chain` from `base` through tryApply. The last step's schema
    * and 3-row sample must equal those of the same prefix applied op by op;
    * returns its frame and the work its tryApply and sampleJson started.
    */
  private def lastStep(base: DataFrame, chain: Seq[Operation]): (DataFrame, Work) = {
    val before = chain.init.foldLeft(base)((df, op) => applied(AgentApi.tryApply(spark, df, op, Map.empty)))
    val ((next, sample), work) = workDuring {
      val next = applied(AgentApi.tryApply(spark, before, chain.last, Map.empty))
      (next, AgentApi.sampleJson(next, 3))
    }
    val full = chain.foldLeft(base)((acc, op) => Ops.applyOp(spark, acc, op, Map.empty))
    assert(next.schema == full.schema, chain.last.opType)
    assert(sample == fullSample(full, 3), chain.last.opType)
    (next, work)
  }

  private def checkpointed(df: DataFrame): Boolean =
    df.queryExecution.logical.collectLeaves().exists(_.isInstanceOf[LogicalRDD])

  private def tempCsv(name: String, text: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("agentapi")
    dir.toFile.deleteOnExit()
    val csv = dir.resolve(name)
    java.nio.file.Files.write(csv, text.getBytes("UTF-8"))
    csv.toFile.deleteOnExit()
    csv.toString
  }

  /** `orders` read from a CSV file, so a trial that reads it shows in the
    * task input rows.
    */
  private lazy val ordersCsv = {
    val text = orders.collect().map(_.toSeq.mkString(",")).mkString(
      orders.columns.mkString("", ",", "\n"), "\n", "\n")
    graft.sources.Source.loadCsv(spark, tempCsv("orders.csv", text), Seq(
      "order_id" -> SchemaType.Int64, "customer_id" -> SchemaType.Int64,
      "unit_price" -> SchemaType.Str, "quantity" -> SchemaType.Int64, "order_date" -> SchemaType.Str))
  }

  /** A bind onto a customers CSV with the given data rows. */
  private def bindOn(text: String, how: String): Bind =
    Bind(tempCsv("customers.csv", "customer_id,country\n" + text),
      Seq("customer_id" -> SchemaType.Int64, "country" -> SchemaType.Str),
      "customer_id", "customer_id", how, Seq("country"))

  private val seen = Equality("order_id", Some("seen"))
  private val fold = Fold(Seq("order_id"), Seq("unit_price", "order_date"), "key", "value")
  private val unfold = Unfold(Seq("order_id"), "key", "value")

  test("a fold on a recorded head starts no job") {
    val (_, work) = lastStep(orders, Seq(seen, fold))
    assert(work.jobs == 0)
  }

  test("a broadcast left bind on a recorded head reads only the right side, duplicate keys in plan order") {
    // the first order's customer 10 has four matches, more than the sample
    val customers = "10,FR\n11,DE\n10,ES\n10,IT\n12,FR\n10,PT\n"
    val (_, work) = lastStep(ordersCsv, Seq(seen, bindOn(customers, "left")))
    assert(work.rowsRead == 6)
  }

  test("an inner bind whose head matches fewer rows than the sample takes the full path") {
    // orders 1-3 are customers 10, 11 and 99; 99 has no match
    val (_, work) = lastStep(ordersCsv, Seq(seen, bindOn("10,FR\n11,DE\n12,FR\n", "inner")))
    assert(work.rowsRead > 3)
    // with enough matches the inner bind stays on the head
    val (_, matched) = lastStep(ordersCsv, Seq(seen, bindOn("10,FR\n11,DE\n99,FR\n", "inner")))
    assert(matched.rowsRead == 3)
  }

  test("outer and cross binds take the full path") {
    Seq("outer", "cross").foreach { how =>
      val (_, work) = lastStep(ordersCsv, Seq(seen, bindOn("10,FR\n11,DE\n12,FR\n", how)))
      assert(work.rowsRead > 3, how)
    }
  }

  test("an unfold after a fold on a recorded head pivots on the fold's keys in one action") {
    val (next, work) = lastStep(orders, Seq(seen, fold, unfold))
    assert(work.executions == 1)
    assert(!checkpointed(next))
    assert(next.columns.toSeq == Seq("order_id", "unit_price", "order_date"))
  }

  test("an unfold after a fold over an empty input keeps discovery and its key-less schema") {
    val (next, _) = lastStep(orders.filter(lit(false)), Seq(seen, fold, unfold))
    assert(checkpointed(next))
    assert(next.columns.toSeq == Seq("order_id"))
  }

  test("an unfold on a data key column keeps discovery") {
    val (next, _) = lastStep(orders, Seq(seen, Unfold(Seq("customer_id"), "order_date", "quantity")))
    assert(checkpointed(next))
  }

  test("the unfold key guard raises the same error on the fold's keys") {
    val folded = Ops.applyOp(spark, orders, fold, Map.empty)
    val recorded = applied(AgentApi.tryApply(spark,
      applied(AgentApi.tryApply(spark, orders, seen, Map.empty)), fold, Map.empty))
    System.setProperty("graft.unfold.maxKeys", "1")
    try {
      val expected = intercept[IllegalArgumentException](Ops.applyOp(spark, folded, unfold, Map.empty))
      assert(AgentApi.tryApply(spark, recorded, unfold, Map.empty) == Left(expected.getMessage))
    } finally System.clearProperty("graft.unfold.maxKeys")
  }

  test("a row-local step on a recorded head and its sample run no query and compile no code") {
    // a column layout no other test compiles: a query over it would
    // generate and compile its own projections
    val schema = StructType(Seq(
      StructField("s", ShortType), StructField("f", FloatType), StructField("b", ByteType),
      StructField("m", DecimalType(13, 5)), StructField("d", DateType), StructField("t", StringType),
      StructField("z", BooleanType), StructField("k", ShortType), StructField("g", FloatType)))
    val rows = (1 to 4).map(i => Row(i.toShort, i * 0.5f, (-i).toByte, BigDecimal(s"$i.25"),
      java.sql.Date.valueOf(s"2024-0$i-1$i"), s"v$i", i % 2 == 0, (i * 3).toShort, -i * 1.25f))
    val base = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val chain = Seq(Equality("t", Some("t2")), Casting("s", SchemaType.Flt, Some("sf")))
    val recorded = applied(AgentApi.tryApply(spark, base, chain.head, Map.empty))
    val (((next, sample), work), compiles) = compilesDuring(workDuring {
      val next = applied(AgentApi.tryApply(spark, recorded, chain(1), Map.empty))
      (next, AgentApi.sampleJson(next, 3))
    })
    assert(work.jobs == 0)
    assert(work.executions == 0)
    assert(compiles == 0)
    val full = chain.foldLeft(base)((acc, op) => Ops.applyOp(spark, acc, op, Map.empty))
    assert(next.schema == full.schema)
    assert(sample == fullSample(full, 3))
  }

  test("sampleJson of a recorded head renders numbers, strings, nulls and dates as toJSON does") {
    val schema = StructType(Seq(StructField("i", IntegerType), StructField("l", LongType),
      StructField("x", DoubleType), StructField("s", StringType), StructField("d", DateType),
      StructField("b", BooleanType)))
    val date = java.sql.Date.valueOf("2024-02-29")
    val rows = Seq(
      Row(1, 1L, Double.NaN, "a \"quoted\" word", date, true),
      Row(-2, Long.MaxValue, Double.PositiveInfinity, "back\\slash", null, false),
      Row(null, null, Double.NegativeInfinity, "new\nline", date, null),
      Row(0, Long.MinValue, -0.0, "héllo 日本 🙂", java.sql.Date.valueOf("1970-01-01"), true),
      Row(Int.MinValue, -1L, 1e16, "", date, false),
      Row(Int.MaxValue, 0L, 1e-5, null, null, true),
      Row(7, 7L, null, "tab\there", date, null))
    val base = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val n = rows.size
    val step = Equality("s", Some("s2"))
    val next = applied(AgentApi.tryApply(spark, base, step, Map.empty, sampleRows = n))
    val (sample, work) = workDuring(AgentApi.sampleJson(next, n))
    assert(work.executions == 0)
    assert(sample == fullSample(Ops.applyOp(spark, base, step, Map.empty), n))
  }

  test("a broadcast left bind on a recorded head runs its broadcast job and one take") {
    val (_, work) = lastStep(ordersCsv, Seq(seen, bindOn("10,FR\n11,DE\n12,FR\n", "left")))
    assert(work.jobs == 2)
  }

  test("feedback is never empty, even for exceptions without a message") {
    assert(AgentApi.feedback(new IllegalArgumentException("bad column")) == "bad column")
    assert(AgentApi.feedback(new NullPointerException()) == "java.lang.NullPointerException")
    val wrapped = AgentApi.feedback(new RuntimeException(null, new IllegalStateException("root cause")))
    assert(wrapped == "java.lang.RuntimeException: root cause")
  }
}
