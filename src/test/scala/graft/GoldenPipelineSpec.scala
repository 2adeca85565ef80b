package graft

import graft.plans._
import graft.sources.{Sink, Source}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** End-to-end: the corrected enriched_orders pipeline (semantics of
  * /root/reference/pipelines/enriched_output_def.yaml with current column
  * names — see SURVEY §5.2 staleness notes) over the reference's own demo
  * CSVs, checked row-by-row against the committed golden
  * /root/reference/output_folder/enriched_orders_final.csv.
  * Exercises bind (incl. `_right` collision suffixing via double-bind),
  * casting, application, arithmetic, comparison, assignation, equality,
  * validation, and the csv sink projection rules.
  */
class GoldenPipelineSpec extends SparkSpec {

  private val ref = "/root/reference"

  /** The reference config.yaml's inputs and enriched output, reading the
    * three input CSVs from directory `in`. */
  private def configYaml(in: String) =
    s"""
inputs:
  orders_input:
    path: $in/orders.csv
    file_schema:
      name: OrdersSchema
      columns:
        order_id: { type: integer }
        customer_id: { type: integer }
        order_date: { type: string }
        product_name: { type: string }
        quantity: { type: integer }
        unit_price: { type: string }
  customers_input:
    path: $in/customers.csv
    file_schema:
      name: CustomersSchema
      columns:
        customer_id: { type: integer }
        customer_name: { type: string }
        city: { type: string }
        country: { type: string }
        signup_date: { type: string }
  products_input:
    path: $in/products.csv
    file_schema:
      name: ProductsSchema
      columns:
        product_name: { type: string }
        category: { type: string }
        cost_price: { type: string }
outputs:
  enriched_output_def:
    path: /tmp/graft-test/enriched
    format: csv
    file_schema:
      name: EnrichedSchema
      columns:
        order_id: { type: integer }
        customer_id: { type: integer }
        order_date_dt: { type: date }
        product_name: { type: string }
        quantity: { type: integer }
        unit_price_float: { type: float }
        total_price: { type: float }
        customer_name: { type: string }
        city: { type: string }
        country: { type: string }
        signup_date_dt: { type: date }
        category: { type: string }
        cost_price_float: { type: float }
        total_cost: { type: float }
        profit: { type: float }
        is_high_profit: { type: boolean }
        order_status: { type: string }
"""

  /** The committed flow with the SURVEY §5.2 corrections applied:
    * cust_id→customer_id, full_name→customer_name; double-bind kept to
    * exercise Polars `_right` collision suffixing that downstream ops use.
    */
  private val flowYaml =
    """
source: orders_input
operations:
- operation_type: bind
  output_column: bind_placeholder
  right_file_path: customers_input
  right_schema_columns: { customer_id: integer, customer_name: string, city: string, country: string, signup_date: string }
  left_on: customer_id
  right_on: customer_id
  how: left
  columns_to_add: [customer_name, city, country, signup_date]
- operation_type: bind
  output_column: bind_placeholder
  right_file_path: customers_input
  right_schema_columns: { customer_id: integer, customer_name: string, city: string, country: string, signup_date: string }
  left_on: customer_id
  right_on: customer_id
  how: left
  columns_to_add: [customer_name, city, country, signup_date]
- operation_type: equality
  output_column: customer_name
  input_column: customer_name_right
- operation_type: casting
  output_column: order_date_dt
  input_column: order_date
  target_type: date
- operation_type: application
  output_column: unit_price_no_dollars
  input_columns: [unit_price]
  function_str: 'lambda r: r[''unit_price''].replace(''$'', '''')'
- operation_type: casting
  output_column: unit_price_float
  input_column: unit_price_no_dollars
  target_type: float
- operation_type: arithmetic
  output_column: total_price
  input_columns: [unit_price_float, quantity]
  operator: '*'
- operation_type: casting
  output_column: signup_date_dt
  input_column: signup_date_right
  target_type: date
- operation_type: bind
  output_column: bind_placeholder
  right_file_path: products_input
  right_schema_columns: { product_name: string, category: string, cost_price: string }
  left_on: product_name
  right_on: product_name
  how: left
  columns_to_add: [category, cost_price]
- operation_type: casting
  output_column: cost_price_float
  input_column: cost_price
  target_type: float
- operation_type: arithmetic
  output_column: total_cost
  input_columns: [cost_price_float, quantity]
  operator: '*'
- operation_type: arithmetic
  output_column: profit
  input_columns: [total_price, total_cost]
  operator: '-'
- operation_type: comparison
  output_column: is_high_profit
  input_column: profit
  operator: '>'
  value: 100
- operation_type: assignation
  output_column: order_status
  value: UNKNOWN
"""

  /** Input directory for the bind test, which reads only column names:
    * the reference's input_folder where it exists, else a temp directory
    * holding orders.csv and customers.csv with config.yaml's headers and
    * FIXTURES.md §A's sample rows. */
  private def bindInputDir(): String = {
    val refIn = s"$ref/input_folder"
    if (new java.io.File(s"$refIn/customers.csv").isFile) refIn
    else {
      val dir = Files.createTempDirectory("golden-bind")
      dir.toFile.deleteOnExit()
      Seq(
        "orders.csv" -> Seq(
          "order_id,customer_id,order_date,product_name,quantity,unit_price",
          "101,1,2024-01-15,Laptop Pro,1,\"$1050.00\""),
        "customers.csv" -> Seq(
          "customer_id,customer_name,city,country,signup_date",
          "1,Alice Smith,New York,USA,2023-05-10")
      ).foreach { case (name, lines) =>
        val f = dir.resolve(name)
        Files.write(f, lines.mkString("", "\n", "\n").getBytes(UTF_8))
        f.toFile.deleteOnExit()
      }
      dir.toString
    }
  }

  test("corrected enriched pipeline matches the reference golden byte-for-semantics") {
    val config = Yaml.parseConfig(configYaml(s"$ref/input_folder"))
    val flow = Yaml.parseFlow(flowYaml)

    val src = Source.load(spark, config.inputMap(flow.source))
    val result = Runner.applyAll(spark, src, flow.operations, config.inputMap)

    // schema validation passes
    assert(SchemaValidator.diff(result.schema, config.outputMap("enriched_output_def").schema).isEmpty)

    val out = Sink.projectToSchema(result, config.outputMap("enriched_output_def"))
    val golden = spark.read.option("header", true).option("inferSchema", true)
      .csv(s"$ref/output_folder/enriched_orders_final.csv")

    assert(out.columns.toSeq == golden.columns.toSeq)
    assert(out.count() == 10)

    // row-by-row compare on order_id, with tolerant float compare
    val g = golden.collect().map(r => r.getAs[Int]("order_id").toLong -> r).toMap
    out.collect().foreach { r =>
      val id = r.getAs[Long]("order_id")
      val exp = g(id)
      assert(r.getAs[String]("customer_name") == exp.getAs[String]("customer_name"), s"row $id name")
      assert(r.getAs[java.sql.Date]("order_date_dt").toString == exp.getAs[java.sql.Date]("order_date_dt").toString, s"row $id date")
      assert(math.abs(r.getAs[Double]("profit") - exp.getAs[Double]("profit")) < 1e-9, s"row $id profit")
      assert(r.getAs[Boolean]("is_high_profit") == exp.getAs[Boolean]("is_high_profit"), s"row $id high")
      assert(r.getAs[String]("order_status") == "UNKNOWN", s"row $id status")
      assert(math.abs(r.getAs[Double]("total_cost") - exp.getAs[Double]("total_cost")) < 1e-9, s"row $id cost")
    }

    // end-to-end through the sink too (csv write + header)
    Sink.save(result, config.outputMap("enriched_output_def"))
    val written = spark.read.option("header", true).csv("/tmp/graft-test/enriched")
    assert(written.count() == 10)

    // reference parity: a .csv path produces exactly ONE file at that path
    val singleDef = config.outputMap("enriched_output_def")
      .copy(path = "/tmp/graft-test/enriched_single.csv")
    Sink.save(result, singleDef)
    val f = new java.io.File(singleDef.path)
    assert(f.isFile, "expected a single csv FILE, not a directory")
    val single = spark.read.option("header", true).csv(singleDef.path)
    assert(single.count() == 10 && single.columns.length == 17)
  }

  test("bind right-key is dropped, collisions get _right suffix repeatedly until unique") {
    val config = Yaml.parseConfig(configYaml(bindInputDir()))
    val src = Source.load(spark, config.inputMap("orders_input"))
    val bindOp = Bind("customers_input",
      Seq("customer_id" -> SchemaType.Int64), "customer_id", "customer_id", "left",
      Seq("customer_name", "city"))
    val once = graft.operators.Ops.bind(spark, src, bindOp, config.inputMap)
    assert(once.columns.count(_ == "customer_id") == 1)
    val twice = graft.operators.Ops.bind(spark, once, bindOp, config.inputMap)
    assert(twice.columns.contains("customer_name_right"))
    val thrice = graft.operators.Ops.bind(spark, twice, bindOp, config.inputMap)
    assert(thrice.columns.contains("customer_name_right_right"))
  }

  test("schema validation reports missing columns and type mismatches with reference-style names") {
    val target = FileSchema("t", Seq(
      "a" -> ColumnDef(SchemaType.Int64), "b" -> ColumnDef(SchemaType.Str)))
    import spark.implicits._
    val ok = Seq((1L, "x")).toDF("a", "b")
    assert(SchemaValidator.diff(ok.schema, target).isEmpty)
    val bad = Seq((1.5, 2L)).toDF("a", "b")
    val msg = SchemaValidator.diff(bad.schema, target).get
    assert(msg.contains("expected integer, got float"))
    assert(msg.contains("expected string, got positive integer")) // lossy reverse map parity
    val missing = Seq(1L).toDF("a")
    assert(SchemaValidator.diff(missing.schema, target).get.contains("missing column 'b'"))
  }
}
