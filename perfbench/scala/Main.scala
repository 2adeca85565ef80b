package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Benchmark process for one workload invocation. Sets up `SetupRounds`
  * times (the first from JVM launch), runs the workload's untimed priming
  * step, then runs it back to back in a closed loop with one client until
  * `seconds` have passed and at least its `minRuns` runs are done, and
  * writes every figure to `--out` as JSON for
  * `perfbench/run.py` to check and summarise. With `--trace 1`, runs
  * alternate between untraced and traced so that the tracing overhead can
  * be read off the same process.
  */
object Main {
  /** Set-up rounds per process; `setup_s` is their median. */
  val SetupRounds = 3

  def session(cores: Int, localDir: String): SparkSession = {
    // the session conf of graft.cli.Main
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def now: Double = System.currentTimeMillis().toDouble

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    def inputs = Paths.get(a("inputs")).toAbsolutePath
    def flows = Paths.get(a("flows")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val localDir = work.resolve("spark-local").toString

    val workload: Workload = a("workload") match {
      case "etl_orders" => new EtlOrders(inputs, flows, work)
      case "agent_authoring" => new AgentAuthoring(inputs, flows, seed)
      case "query_suite" =>
        new QuerySuite(Paths.get(a("data")).toAbsolutePath.toString, a("queries").split(",").toSeq,
          seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    val setup = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    val launch = a("launch-ms").toDouble
    (0 until SetupRounds).foreach { r =>
      if (spark != null) spark.stop()
      val t0 = if (r == 0) launch else now
      spark = session(cores, localDir)
      val t1 = now
      workload.warmup(spark)
      setup += (now - t0) / 1000.0
      System.err.println(f"[perfbench] set-up round $r: session ${(t1 - t0) / 1000}%.2f s, " +
        f"warm-up ${(now - t1) / 1000}%.2f s")
    }

    val outcomes = new Outcomes
    val tp = now
    workload.prime(spark, outcomes)
    System.err.println(f"[perfbench] priming ${(now - tp) / 1000}%.2f s")
    // JVM launch to the first timed run: every set-up round and the priming
    val coldStartS = (now - launch) / 1000.0

    val tracer = new Tracer(spark)
    val runs = ArrayBuffer.empty[Map[String, Any]]
    val deadline = now + seconds * 1000.0
    var idx = 0
    // trace mode alternates untraced (even) and traced (odd) runs, and starts
    // and ends with an untraced one, so that each traced run is followed by
    // an untraced one
    val needed = if (trace) workload.minRuns max 3 else workload.minRuns
    while (idx < needed || now < deadline || (trace && idx % 2 == 0)) {
      val traced = trace && idx % 2 == 1
      val rec = new RunRecord
      val t0 = System.nanoTime()
      if (traced) tracer.tracedRun(idx)(workload.run(spark, idx, tracer, outcomes, rec))
      else workload.run(spark, idx, tracer, outcomes, rec)
      val runS = (System.nanoTime() - t0) / 1e9
      val layers =
        if (!traced) Map.empty[String, Double]
        else tracer.layers(idx, cores, tracer.codegenDelta, rec.inputRows, rec.inputBytes,
          rec.rowsReturned, rec.files)
      runs += Map("idx" -> idx, "traced" -> traced, "run_s" -> runS, "values" -> rec.values,
        "samples" -> rec.samples,
        "layers" -> layers)
      idx += 1
    }

    if (trace) Files.write(work.resolve("spans.jsonl"),
      tracer.spansJsonLines.toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
    val result = Map(
      "setup_s" -> setup,
      "cold_start_s" -> coldStartS,
      "runs" -> runs,
      "attempted" -> outcomes.attempted,
      "failed" -> outcomes.failed,
      "errors" -> outcomes.errors,
      "peak_rss_mb" -> peakRssMb,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
    ) ++ workload.report
    Files.writeString(Paths.get(a("out")), Json.write(result))
    spark.stop()
    System.exit(0)
  }
}
