package graft

import graft.operators.Ops
import graft.plans._
import graft.sources.{Sink, Source}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._
import scala.util.Using

/** The pipeline path's unfold after a fold pivots on the fold's keys
  * (`Runner.applyAll`): no checkpoint, no key collect, the same output as
  * key discovery, and over an empty input the discovery path's outcome
  * with the target left as it was.
  */
class StaticUnfoldSpec extends SparkSpec {

  private val fold = Fold(Seq("region", "product"), Seq("qty", "price"), "key", "value")
  private val unfold = Unfold(Seq("region", "product"), "key", "value")
  private val flow = PipelineFlow("orders_input", Seq(fold, unfold))

  // (EU, chair) appears twice: the pivot keeps its first value
  private val orders = Seq("1,EU,chair,2.0,10.5", "2,US,desk,1.0,99.0", "3,EU,lamp,4.0,5.25",
    "4,EU,chair,3.0,11.0", "5,APAC,desk,,80.0")

  private def tempDir(): Path = {
    val d = Files.createTempDirectory("static-unfold")
    d.toFile.deleteOnExit()
    d
  }

  /** A config reading `rows` as orders.csv in `dir`, writing `out` there,
    * whose output declares the `qty` key column as `qtyType`.
    */
  private def config(dir: Path, rows: Seq[String], out: String, qtyType: String = "float"): PipelineConfig = {
    val csv = dir.resolve("orders.csv")
    Files.writeString(csv, ("order_id,region,product,qty,price" +: rows).mkString("", "\n", "\n"))
    Yaml.parseConfig(
      s"""
inputs:
  orders_input:
    path: $csv
    file_schema:
      name: OrdersSchema
      columns:
        order_id: { type: integer }
        region: { type: string }
        product: { type: string }
        qty: { type: float }
        price: { type: float }
outputs:
  summary:
    path: ${dir.resolve(out)}
    format: csv
    file_schema:
      name: SummarySchema
      columns:
        region: { type: string }
        product: { type: string }
        qty: { type: $qtyType }
        price: { type: float }
""")
  }

  private def source(cfg: PipelineConfig): DataFrame = Source.load(spark, cfg.inputMap("orders_input"))

  /** The reference's unfold: keys discovered from the folded data. */
  private def discovered(cfg: PipelineConfig): DataFrame =
    Ops.unfold(Ops.fold(source(cfg), fold), unfold, None)

  private def checkpointed(df: DataFrame): Boolean =
    df.queryExecution.logical.collectLeaves().exists(_.isInstanceOf[LogicalRDD])

  /** Every file under `p` (or `p` itself) with its bytes. */
  private def contents(p: Path): Map[String, Seq[Byte]] =
    if (!Files.exists(p)) Map.empty
    else Using.resource(Files.walk(p))(_.iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => p.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap)

  test("applyAll pivots on the fold's keys: no job, no checkpoint, discovery's columns and rows") {
    val cfg = config(tempDir(), orders, "out.csv")
    val src = source(cfg)
    val (result, jobs) = jobsDuring(Runner.applyAll(spark, src, flow.operations, cfg.inputMap))
    assert(jobs == 0)
    assert(!checkpointed(result))
    val expected = discovered(cfg)
    assert(checkpointed(expected))
    assert(result.columns.toSeq == expected.columns.toSeq)
    assert(result.collect().toSet == expected.collect().toSet)
  }

  test("runOutput writes the bytes a discovery pivot writes, to a file and to a directory") {
    Seq("out.csv", "out").foreach { name =>
      val dir = tempDir()
      val cfg = config(dir, orders, name)
      assert(Runner.runOutput(spark, cfg, "summary", flow).isEmpty, name)
      val ref = cfg.outputMap("summary").copy(path = dir.resolve("ref-" + name).toString)
      Sink.save(discovered(cfg), ref, prettyJson = true)
      val (out, want) = (contents(dir.resolve(name)), contents(Paths.get(ref.path)))
      assert(out.nonEmpty, name)
      if (name.endsWith(".csv")) assert(out == want, name)
      else {
        // part file names carry a per-write id; their rows must agree
        def rows(m: Map[String, Seq[Byte]]) = m.filter(_._1.startsWith("part-")).values
          .flatMap(b => new String(b.toArray, "UTF-8").linesIterator.drop(1)).toSeq.sorted
        assert(rows(out) == rows(want), name)
      }
      assert(!Files.exists(dir.resolve(name + ".graft-tmp")), name)
    }
  }

  test("over an empty input runOutput returns discovery's feedback and leaves the target as it was") {
    Seq("summary.csv", "summary").foreach { name =>
      val dir = tempDir()
      val cfg = config(dir, Nil, name)
      val target = dir.resolve(name)
      val expected = SchemaValidator.diff(discovered(cfg).schema, cfg.outputMap("summary").schema)
      assert(expected.contains("missing column 'qty'; missing column 'price'"), name)
      // an absent target stays absent
      assert(Runner.runOutput(spark, cfg, "summary", flow) == expected, name)
      assert(!Files.exists(target), name)
      // a pre-existing one keeps its bytes
      if (name.endsWith(".csv")) Files.writeString(target, "old,bytes\n")
      else {
        Files.createDirectories(target)
        Files.writeString(target.resolve("part-00000-old.csv"), "old,bytes\n")
      }
      val before = contents(target)
      assert(Runner.runOutput(spark, cfg, "summary", flow) == expected, name)
      assert(contents(target) == before, name)
      assert(!Files.exists(dir.resolve(name + ".graft-tmp")), name)
    }
  }

  test("a key column of the wrong type gets discovery's feedback, over an empty input and over rows") {
    Seq(Nil -> "missing column 'qty'; missing column 'price'",
        orders -> "column 'qty': expected integer, got float").foreach { case (rows, want) =>
      val dir = tempDir()
      val cfg = config(dir, rows, "summary.csv", qtyType = "integer")
      val expected = SchemaValidator.diff(discovered(cfg).schema, cfg.outputMap("summary").schema)
      assert(expected.contains(want))
      assert(Runner.runOutput(spark, cfg, "summary", flow) == expected)
      assert(!Files.exists(dir.resolve("summary.csv")))
    }
  }

  test("Sink.save of a guarded frame with no rows raises and writes nothing") {
    Seq("summary.csv", "summary").foreach { name =>
      val dir = tempDir()
      val cfg = config(dir, Nil, name)
      val target = dir.resolve(name)
      Files.writeString(target, "old,bytes\n")
      val result = Runner.applyAll(spark, source(cfg), flow.operations, cfg.inputMap)
      assert(Sink.guarded(result), name)
      val e = intercept[IllegalStateException](Sink.save(result, cfg.outputMap("summary")))
      assert(e.getMessage.contains(target.toString), name)
      assert(Files.readString(target) == "old,bytes\n", name)
      assert(!Files.exists(dir.resolve(name + ".graft-tmp")), name)
    }
  }

  test("a directory output is written through a sibling temp dir, also where its path ends in a slash") {
    val dir = tempDir()
    val cfg = config(dir, orders, "out")
    val fd = cfg.outputMap("summary").copy(path = dir.resolve("out").toString + "/")
    Sink.save(discovered(cfg), fd)
    assert(contents(dir.resolve("out")).keys.exists(_.startsWith("part-")))
    assert(Using.resource(Files.list(dir))(_.iterator.asScala.map(_.getFileName.toString).toSet) ==
      Set("orders.csv", "out"))
  }

  test("a data key column and an unfold without index columns keep discovery") {
    val cfg = config(tempDir(), orders, "out.csv")
    val onData = Runner.applyAll(spark, source(cfg), Seq(Unfold(Seq("product"), "region", "qty")), Map.empty)
    assert(checkpointed(onData))
    // a pivot with no index columns is one row even over no input
    val noIndex = Runner.applyAll(spark, source(cfg), Seq(fold, Unfold(Nil, "key", "value")), Map.empty)
    assert(checkpointed(noIndex))
  }

  test("graft.unfold.maxKeys below the fold's value-column count raises discovery's message") {
    val cfg = config(tempDir(), orders, "out.csv")
    System.setProperty("graft.unfold.maxKeys", "1")
    try {
      val expected = intercept[IllegalArgumentException](discovered(cfg)).getMessage
      val e = intercept[RuntimeException](Runner.applyAll(spark, source(cfg), flow.operations, Map.empty))
      assert(e.getMessage == s"operation 2 (unfold) failed: $expected")
    } finally System.clearProperty("graft.unfold.maxKeys")
  }
}
