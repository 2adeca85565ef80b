package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond precision, on the same clock as Spark's event times.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      start: Double, var end: Double = Double.NaN) {
  def ms: Double = end - start
}

/** In-memory tracer: spans around the benchmark's calls into each layer,
  * plus a SparkListener and a QueryExecutionListener registered only while
  * a traced run is active, and the codegen counters. Spark jobs are tied to
  * the span that launched them through a thread-local job property, which
  * Spark copies onto every job, stage and broadcast it starts for that
  * thread.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val SpanProp = "perfbench.span"
  private val ExecProp = "spark.sql.execution.id"

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var runIdx = -1
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  def now: Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  private final case class Job(id: Int, span: Int, exec: Long, start: Long, var end: Long)
  private final case class Stage(id: Int, span: Int, submitted: Long)
  private final case class Task(stage: Int, launch: Long, finish: Long, cpuNs: Long, gcMs: Long,
                                shWrite: Long, shRead: Long, shRecords: Long, spill: Long,
                                inRecords: Long, outBytes: Long)
  private final case class Exec(start: Double, analysisMs: Double, optimizationMs: Double,
                                planningMs: Double)

  private val jobs = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val execs = ArrayBuffer.empty[Exec]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty(ExecProp)))
        .map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(e.jobId, spanOf(e.properties), exec, e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val info = e.stageInfo
      stages(info.stageId) = Stage(info.stageId, spanOf(e.properties),
        info.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String): Double = ph.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
        .getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
      Tracer.this.synchronized {
        execs += Exec(start, phase("analysis"), phase("optimization"), phase("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var codegenMsAtStart = 0.0
  private var compilesAtStart = 0L
  private def codegenMs: Double = CodeGenerator.compileTime / 1e6
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def enabled: Boolean = runIdx >= 0

  /** Time `body` as a span named `name`; a no-op wrapper outside traced runs. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runIdx, now)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = now
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Run `body` as traced run `idx`: listeners on, one root span "run". */
  def tracedRun[T](idx: Int)(body: => T): T = {
    PerfbenchBus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    codegenMsAtStart = codegenMs
    compilesAtStart = compiles
    runIdx = idx
    try span("run")(body)
    finally {
      runIdx = -1
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def codegenDelta: (Double, Long) = (codegenMs - codegenMsAtStart, compiles - compilesAtStart)

  /** Per-layer figures of traced run `idx`. `inputRows`/`inputBytes` are the
    * rows and bytes of the files the run names, `rowsReturned` the rows the
    * agent calls handed back; `files` the files the run wrote.
    */
  def layers(idx: Int, cores: Int, codegen: (Double, Long), inputRows: Double,
             inputBytes: Double, rowsReturned: Double, files: Double): Map[String, Double] =
    synchronized {
      val runSpans = spans.filter(_.run == idx)
      val root = runSpans.find(_.name == "run").get
      val byId = runSpans.map(s => s.id -> s).toMap
      val childMs = runSpans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
      def selfMs(name: String): Double =
        runSpans.filter(_.name == name).map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
      def under(spanId: Int, name: String): Boolean = {
        var cur = byId.get(spanId)
        while (cur.exists(_.name != name)) cur = cur.flatMap(c => byId.get(c.parent))
        cur.isDefined
      }
      def inRun(spanId: Int, time: Double): Boolean =
        if (spanId >= 0) byId.contains(spanId) else time >= root.start && time <= root.end
      val runJobs = jobs.values.filter(j => inRun(j.span, j.start.toDouble)).toSeq
      val runStages = stages.values.filter(s => inRun(s.span, s.submitted.toDouble))
        .map(s => s.id -> s).toMap
      val runTasks = tasks.filter(t => runStages.contains(t.stage))
      def jobsUnder(name: String) = runJobs.filter(j => under(j.span, name))
      def tasksUnder(name: String) = runTasks.filter(t => under(runStages(t.stage).span, name))

      // building a plan inside AgentApi.tryApply: every job in the try span
      // except those of its closing sample action (the span's last SQL
      // execution), and the time before that action's first job started
      val tries = runSpans.filter(_.name == "agent.try")
      var tryOpsJobs = 0
      var tryOpsMs = 0.0
      tries.foreach { t =>
        val js = runJobs.filter(_.span == t.id)
        val sampleExec = js.map(_.exec).maxOption.getOrElse(-1L)
        tryOpsJobs += js.count(j => j.exec != sampleExec || sampleExec < 0)
        val sampleStart = js.filter(_.exec == sampleExec).map(_.start.toDouble).minOption
          .getOrElse(t.end)
        tryOpsMs += math.max(0.0, math.min(sampleStart, t.end) - t.start)
      }

      val busy = runTasks.map(t => (t.finish - t.launch).toDouble).sum
      // union of job-active intervals inside the run span
      val intervals = runJobs.map(j => (math.max(j.start.toDouble, root.start),
        math.min(j.end.toDouble, root.end))).filter { case (a, b) => b > a }.sortBy(_._1)
      var active = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      intervals.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) active += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) active += curE - curS
      // the largest task's share of its stage's task time, over stages that
      // carry at least 5% of the run's task time (tiny probe stages of one
      // task would otherwise always read 1.0)
      val maxShare = runTasks.groupBy(_.stage).values.map { ts =>
        val durs = ts.map(t => (t.finish - t.launch).toDouble)
        (durs.sum, if (durs.sum > 0) durs.max / durs.sum else 0.0)
      }.filter(_._1 >= 0.05 * busy).map(_._2).maxOption.getOrElse(0.0)
      val runExecs = execs.filter(e => e.start >= root.start && e.start <= root.end)
      val sinkTasks = tasksUnder("sink.write")
      val agentTasks = runTasks.filter(t =>
        Seq("agent.try", "agent.diff", "agent.sample").exists(n => under(runStages(t.stage).span, n)))
      def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

      Map(
        "yaml.parse_ms" -> selfMs("yaml.parse"),
        "source.load_ms" -> selfMs("source.load"),
        "source.jobs" -> jobsUnder("source.load").size.toDouble,
        "source.read_amplification" -> ratio(runTasks.map(_.inRecords).sum.toDouble, inputRows),
        "ops.build_ms" -> (selfMs("ops.build") + tryOpsMs),
        "ops.jobs" -> (jobsUnder("ops.build").size + tryOpsJobs).toDouble,
        "validate.diff_ms" -> selfMs("validate"),
        "sink.write_ms" -> selfMs("sink.write"),
        "sink.bytes_per_input_byte" -> ratio(sinkTasks.map(_.outBytes).sum.toDouble, inputBytes),
        "sink.files" -> files,
        "agent.try_ms" -> selfMs("agent.try"),
        "agent.diff_ms" -> selfMs("agent.diff"),
        "agent.sample_ms" -> selfMs("agent.sample"),
        "agent.reject_ms" -> selfMs("agent.reject"),
        "agent.rows_read_per_row_returned" ->
          ratio(agentTasks.map(_.inRecords).sum.toDouble, rowsReturned),
        "entry.build_ms" -> selfMs("entry.build"),
        "entry.build_jobs" -> jobsUnder("entry.build").size.toDouble,
        "entry.action_ms" -> selfMs("entry.action"),
        "catalyst.analysis_ms" -> runExecs.map(_.analysisMs).sum,
        "catalyst.optimization_ms" -> runExecs.map(_.optimizationMs).sum,
        "catalyst.planning_ms" -> runExecs.map(_.planningMs).sum,
        "codegen.compile_ms" -> codegen._1,
        "codegen.compiles" -> codegen._2.toDouble,
        "spark.jobs" -> runJobs.size.toDouble,
        "spark.stages" -> runStages.size.toDouble,
        "spark.tasks" -> runTasks.size.toDouble,
        "spark.task_busy_ms" -> busy,
        "spark.task_cpu_ms" -> runTasks.map(_.cpuNs).sum / 1e6,
        "spark.task_gc_ms" -> runTasks.map(_.gcMs).sum.toDouble,
        "spark.task_wait_ms" -> runTasks.map(t =>
          math.max(0L, t.launch - runStages(t.stage).submitted).toDouble).sum,
        "spark.driver_gap_ms" -> math.max(0.0, root.ms - active),
        "spark.core_util" -> ratio(busy, cores * active),
        "spark.max_task_share" -> maxShare,
        "spark.shuffle_write_bytes" -> runTasks.map(_.shWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> runTasks.map(_.shRead).sum.toDouble,
        "spark.shuffle_records" -> runTasks.map(_.shRecords).sum.toDouble,
        "spark.spill_bytes" -> runTasks.map(_.spill).sum.toDouble,
        "spark.input_records" -> runTasks.map(_.inRecords).sum.toDouble,
        "spark.output_bytes" -> runTasks.map(_.outBytes).sum.toDouble,
      )
    }

  /** All spans, one JSON object per line, for reading a run after the fact. */
  def spansJsonLines: Iterator[String] = spans.iterator.map { s =>
    Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_ms" -> s.start, "end_ms" -> s.end))
  }
}
