package perfbench

import graft.SparkEntry
import graft.plans._
import graft.sources.{Sink, Source}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StringType

import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** What one workload run reports besides its wall time. */
final class RunRecord {
  val values = mutable.LinkedHashMap.empty[String, Double]
  var inputRows = 0.0
  var inputBytes = 0.0
  var rowsReturned = 0.0
  var files = 0.0
  /** Latency of each closed-loop call in the run: agent steps, queries. */
  val samples = ArrayBuffer.empty[Double]
}

/** Operation outcomes over a whole invocation: an operation is an output
  * run, a step verdict or a query execution.
  */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  def ok(): Unit = attempted += 1
  def fail(msg: String): Unit = {
    attempted += 1
    failed += 1
    if (errors.size < 20) errors += msg
  }
}

abstract class Workload {
  /** Small run that loads the code paths a timed run uses; part of set-up. */
  def warmup(spark: SparkSession): Unit
  /** Untimed work between set-up and the first timed run. */
  def prime(spark: SparkSession, out: Outcomes): Unit = ()
  /** Timed runs per invocation at the least, however short `--seconds` is. */
  def minRuns: Int
  def run(spark: SparkSession, idx: Int, tr: Tracer, out: Outcomes, rec: RunRecord): Unit
  /** Extra result fields for the caller's correctness checks. */
  def report: Map[String, Any] = Map.empty
}

/** The two reference flows over the generated orders/customers/products. */
abstract class FlowWorkload(inputs: Path, flows: Path) extends Workload {
  protected val outputKeys = Seq("enriched_output_def", "summary_output_def")
  protected val flowText: Map[String, String] =
    outputKeys.map(k => k -> Files.readString(flows.resolve(s"$k.yaml"))).toMap
  private val configTemplate = Files.readString(inputs.resolve("config.yaml"))
  private val warmTemplate = Files.readString(inputs.resolve("warm/config.yaml"))

  protected def configText(outDir: String, warm: Boolean = false): String =
    (if (warm) warmTemplate else configTemplate).replace("{out}", outDir)

  /** Rows and bytes of every input file a flow names, once per naming. */
  protected def flowInputs(config: PipelineConfig, flow: PipelineFlow): Seq[String] =
    config.inputMap(flow.source).path +: flow.operations.collect {
      case b: Bind => config.inputMap.get(b.rightFilePath).map(_.path).getOrElse(b.rightFilePath)
    }
  /** Data rows per generated file, as the generator recorded them. */
  private val rows: Map[String, Double] =
    Seq(inputs, inputs.resolve("warm")).flatMap { dir =>
      scala.io.Source.fromFile(dir.resolve("rows.txt").toFile).getLines().map(_.split(' '))
        .map(a => dir.resolve(a(0)).toAbsolutePath.toString -> a(1).toDouble).toList
    }.toMap
  protected def count(rec: RunRecord, paths: Seq[String]): Unit = paths.foreach { p =>
    rec.inputRows += rows.getOrElse(Paths.get(p).toAbsolutePath.toString, 0.0)
    rec.inputBytes += new File(p).length
  }
}

/** `graft.cli.Main`'s path: parse the config, then per output parse its
  * flow and call `Runner.runOutput`. Traced runs make the same calls that
  * `runOutput` is made of, one span each.
  */
final class EtlOrders(inputs: Path, flows: Path, work: Path) extends FlowWorkload(inputs, flows) {
  private val written = ArrayBuffer.empty[String]

  private def runAll(spark: SparkSession, text: String, tr: Tracer, out: Outcomes,
                     rec: RunRecord): Unit = {
    val config = tr.span("yaml.parse")(Yaml.parseConfig(text))
    outputKeys.foreach { key =>
      val t0 = System.nanoTime()
      try {
        val flow = tr.span("yaml.parse")(Yaml.parseFlow(flowText(key)))
        val t1 = System.nanoTime()
        val feedback =
          if (!tr.enabled) Runner.runOutput(spark, config, key, flow)
          else tr.span("output") {
            val outDef = config.outputMap(key)
            val df = tr.span("source.load")(Source.load(spark, config.inputMap(flow.source)))
            val result = tr.span("ops.build")(
              Runner.applyAll(spark, df, flow.operations, config.inputMap))
            val fb = tr.span("validate")(SchemaValidator.diff(result.schema, outDef.schema))
            if (fb.isEmpty) tr.span("sink.write")(Sink.save(result, outDef, prettyJson = true))
            fb
          }
        rec.values(key.stripSuffix("_output_def") + "_s") = (System.nanoTime() - t1) / 1e9
        count(rec, flowInputs(config, flow))
        feedback match {
          case Some(fb) => out.fail(s"$key failed schema validation: $fb")
          case None => out.ok()
        }
      } catch {
        case e: Exception =>
          rec.values(key.stripSuffix("_output_def") + "_s") = (System.nanoTime() - t0) / 1e9
          out.fail(s"$key: ${e.getMessage}")
      }
    }
  }

  /** Load the 2,000-order set and read 3 rows; `prime` warms the rest. */
  def warmup(spark: SparkSession): Unit = {
    val config = Yaml.parseConfig(configText(work.resolve("warm-out").toString, warm = true))
    Source.load(spark, config.inputMap("orders_input")).limit(3).collect()
  }

  /** One full run, so that the timed runs start past the steepest part of
    * the JIT warm-up.
    */
  override def prime(spark: SparkSession, out: Outcomes): Unit = {
    val primed = new Outcomes
    runAll(spark, configText(work.resolve("prime-out").toString), new Tracer(spark), primed,
      new RunRecord)
    primed.errors.foreach(e => out.fail(s"priming: $e"))
  }

  def minRuns: Int = 2

  def run(spark: SparkSession, idx: Int, tr: Tracer, out: Outcomes, rec: RunRecord): Unit = {
    val dir = work.resolve(s"out/run-$idx")
    runAll(spark, configText(dir.toString), tr, out, rec)
    written += dir.toString
    rec.files = Files.walk(dir).filter(p => Files.isRegularFile(p)).count().toDouble
  }

  override def report: Map[String, Any] = Map("output_dirs" -> written.toSeq)
}

/** The reference's generation loop minus the LLM: each flow is replayed one
  * operation at a time through `AgentApi.tryApply` → `schemaDiff` →
  * `sampleJson(3)`. A seed-chosen quarter of the steps is preceded by a
  * designed-invalid attempt that must come back rejected.
  */
final class AgentAuthoring(inputs: Path, flows: Path, seed: Long) extends FlowWorkload(inputs, flows) {
  private val parsed = outputKeys.map(k => k -> Yaml.parseFlow(flowText(k)))
  private val rejectKinds = Seq("missing_column", "string_vs_number", "unparseable_cast")
  /** (output key, step index) → kind of invalid attempt before that step. */
  private val rejects: Map[(String, Int), String] = {
    val rng = new Random(seed)
    val steps = parsed.flatMap { case (k, f) => f.operations.indices.map(i => (k, i)) }
    rng.shuffle(steps).take(steps.size / 4).zipWithIndex
      .map { case (s, i) => s -> rejectKinds((i + rng.nextInt(3)) % 3) }.toMap
  }

  /** An operation that must fail against `df`, of the given kind. */
  private def invalid(kind: String, df: DataFrame): Operation = {
    val strings = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    // a text column whose values never parse as numbers
    val text = Seq("unit_price", "customer_name", "product_name", "country")
      .find(strings.contains).getOrElse(strings.head)
    kind match {
      case "missing_column" => Casting("unit_price_usd", SchemaType.Flt, Some("attempt"))
      case "string_vs_number" => Comparison(strings.head, ">", 100, Some("attempt"))
      case "unparseable_cast" => Casting(text, SchemaType.Flt, Some("attempt"))
    }
  }

  private def replay(spark: SparkSession, config: PipelineConfig, tr: Tracer, out: Outcomes,
                     rec: RunRecord): Unit =
    parsed.foreach { case (key, flow) =>
      val target = config.outputMap(key).schema
      var df = tr.span("source.load")(Source.load(spark, config.inputMap(flow.source)))
      count(rec, flowInputs(config, flow))
      var aborted = false
      flow.operations.zipWithIndex.foreach { case (op, i) =>
        if (!aborted) {
          rejects.get((key, i)).foreach { kind =>
            tr.span("agent.reject")(AgentApi.tryApply(spark, df, invalid(kind, df), config.inputMap)) match {
              case Left(msg) if msg != null && msg.nonEmpty =>
                out.ok()
              case Left(_) => out.fail(s"$key step ${i + 1}: $kind rejected without feedback")
              case Right(_) => out.fail(s"$key step ${i + 1}: $kind attempt was accepted")
            }
          }
          val t0 = System.nanoTime()
          tr.span("agent.step") {
            tr.span("agent.try")(AgentApi.tryApply(spark, df, op, config.inputMap)) match {
              case Left(msg) =>
                out.fail(s"$key step ${i + 1} (${op.opType}) rejected: $msg")
                aborted = true
              case Right(next) =>
                df = next
                val diff = tr.span("agent.diff")(AgentApi.schemaDiff(next, target))
                val sample = tr.span("agent.sample")(AgentApi.sampleJson(next, 3))
                val rows = if (sample == "[]") 0 else sample.split("\\},\\{").length
                rec.rowsReturned += 6 // tryApply's own 3-row action + the 3-row sample
                val last = i == flow.operations.size - 1
                if (!sample.startsWith("[{") || rows < 3)
                  out.fail(s"$key step ${i + 1}: sample is not a 3-row JSON array")
                else if (last && diff.nonEmpty)
                  out.fail(s"$key: final schemaDiff not empty: ${diff.get}")
                else out.ok()
            }
          }
          if (!aborted) rec.samples += (System.nanoTime() - t0) / 1e6
        }
      }
    }

  /** Load the 2,000-order set and sample 3 rows. There is no priming: the
    * timed replay is the session's first, as for a fresh authoring process.
    */
  def warmup(spark: SparkSession): Unit = {
    val config = Yaml.parseConfig(configText("unused", warm = true))
    AgentApi.sampleJson(Source.load(spark, config.inputMap("orders_input")), 3)
  }

  def minRuns: Int = 1

  def run(spark: SparkSession, idx: Int, tr: Tracer, out: Outcomes, rec: RunRecord): Unit =
    replay(spark, Yaml.parseConfig(configText("unused")), tr, out, rec)
}

/** `SparkEntry.queries` at a fixed scale, each built and then executed with
  * the same `noop` write as `graft.Bench`, in a seed-permuted order per pass.
  */
final class QuerySuite(data: String, names: Seq[String], seed: Long, work: Path) extends Workload {
  private val broken = mutable.Set.empty[String]
  private val resultsDir = work.resolve("query-results")

  def warmup(spark: SparkSession): Unit = {
    SparkEntry.queries(names.head)(spark, data).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
  }

  /** One correctness pass: every query's result to parquet (as
    * `graft.Verify` writes it) with its oracle SQL, compared by the caller.
    */
  override def prime(spark: SparkSession, out: Outcomes): Unit = {
    names.foreach { n =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(n)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(resultsDir.resolve(n).toString)
      catch { case e: Exception => broken += n; System.err.println(s"[perfbench] $n: ${e.getMessage}") }
      spark.catalog.clearCache()
      System.err.println(f"[perfbench] correctness pass $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val oracles = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap
    Files.writeString(resultsDir.resolve("oracle_sql.json"), Json.write(oracles))
    dataRows = tableFiles.map(f => spark.read.parquet(f.toString).count().toDouble).sum
  }

  def minRuns: Int = 3

  private def tableFiles: Seq[File] =
    new File(data).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
  private var dataRows = 0.0

  def run(spark: SparkSession, idx: Int, tr: Tracer, out: Outcomes, rec: RunRecord): Unit = {
    new Random(seed * 1000 + idx).shuffle(names).foreach { n =>
      val t0 = System.nanoTime()
      try {
        tr.span("query") {
          val df = tr.span("entry.build")(SparkEntry.queries(n)(spark, data))
          tr.span("entry.action")(df.write.format("noop").mode("overwrite").save())
        }
        rec.values(n) = (System.nanoTime() - t0) / 1e9
        rec.samples += rec.values(n)
        if (broken(n)) out.fail(s"$n: failed in the correctness pass") else out.ok()
      } catch { case e: Exception => out.fail(s"$n: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    rec.inputRows = dataRows
    rec.inputBytes = tableFiles.map(_.length.toDouble).sum
  }

  override def report: Map[String, Any] =
    Map("results_dir" -> resultsDir.toString, "broken" -> broken.toSeq)
}
