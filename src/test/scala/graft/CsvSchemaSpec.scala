package graft.sources

import graft.plans.{ColumnDef, FileDef, FileSchema, SchemaType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

/** `Source.loadCsv` resolves a local line-safe CSV's schema in the driver:
  * it must be the schema Spark resolves itself, with no Spark job. Other
  * inputs keep Spark's header read and sample inference.
  */
class CsvSchemaSpec extends graft.SparkSpec {

  private val tmp = "/tmp/graft-test/csv-schema"

  private def write(name: String, body: String): String = {
    val p = Paths.get(tmp, name)
    Files.createDirectories(p.getParent)
    Files.write(p, body.getBytes(UTF_8))
    p.toString
  }

  test("headers equal Spark's header read") {
    val cases = Seq(
      "blank-lead" -> "\n   \n\na,b\n1,2\n",
      "duplicates" -> "a,b,a,B,c\n1,2,3,4,5\n",
      "empty-names" -> "a,,c,\"\"\n1,2,3,4\n",
      "quoted-commas" -> "\"x,y\",z,\"p \"\"q\"\"\"\n1,2,3\n",
      "non-ascii" -> "städt,名前,Zürich\n1,2,3\n",
      "byte-order-mark" -> "\uFEFFid,v\n1,2\n",
      "header-only" -> "only,cols\n")
    cases.foreach { case (name, body) =>
      val p = write(s"$name.csv", body)
      val want = spark.read.option("header", true).csv(p).schema.fieldNames.toSeq
      val (df, jobs) = jobsDuring(Source.loadCsv(spark, p, Nil))
      assert(df.columns.toSeq == want, name)
      assert(jobs == 0, name)
    }
  }

  test("inferred types equal Spark's inference over the same 1,001 lines") {
    val header = "i,l,dec,dbl,date,ts,bool,mixed,empty,str"
    val lines = header +: (1 to 1200).map { k =>
      Seq(
        if (k % 7 == 0) "" else k.toString,
        (3000000000L + k).toString,
        "1" + "0" * 20 + k,
        s"$k.25",
        java.time.LocalDate.of(2020, 1, 1).plusDays(k).toString,
        s"2024-03-0${1 + k % 9} 1${k % 10}:30:00",
        if (k % 2 == 0) "true" else "FALSE",
        if (k == 500) "x" else k.toString,
        "",
        s"s$k").mkString(",")
    }
    val p = write("types.csv", lines.mkString("\n") + "\n")
    val want = spark.read.option("header", true).option("inferSchema", true)
      .csv(spark.createDataset(lines.take(1001))(Encoders.STRING)).schema
    val (df, jobs) = jobsDuring(Source.loadCsv(spark, p, Nil))
    assert(df.schema == want)
    assert(jobs == 0)
    assert(want.map(_.dataType) == Seq(IntegerType, LongType, DecimalType(25, 0), DoubleType,
      DateType, TimestampType, BooleanType, StringType, StringType, StringType))
  }

  test("Source.load of a local line-safe CSV starts no job") {
    val p = write("orders.csv",
      "order_id,amount,discount_pct\n" + (1 to 50).map(i => s"$i,$i.5,${i % 3}").mkString("\n"))
    val fd = FileDef(p, "csv", FileSchema("orders", Seq(
      "order_id" -> ColumnDef(SchemaType.Int64), "amount" -> ColumnDef(SchemaType.Flt))))
    val (df, jobs) = jobsDuring(Source.load(spark, fd))
    assert(jobs == 0)
    assert(df.schema.map(_.dataType) == Seq(LongType, DoubleType, IntegerType))
  }

  test("a directory input keeps Spark's header read and inference") {
    val dir = Paths.get(tmp, "dir-input")
    Files.createDirectories(dir)
    write("dir-input/a.csv", "id,v\n1,2\n3,4\n")
    write("dir-input/b.csv", "id,v\n5,6.5\n")
    val (df, jobs) = jobsDuring(Source.loadCsv(spark, dir.toString, Seq("id" -> SchemaType.Int64)))
    assert(jobs > 0)
    assert(df.schema == StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    assert(df.count() == 3)
  }

  test("a multi-line quoted record keeps the record-accurate path") {
    val p = write("multiline.csv", "id,txt,n\n1,\"a\nb\",5\n2,c,6\n")
    val (df, jobs) = jobsDuring(Source.loadCsv(spark, p, Nil))
    assert(jobs > 0)
    assert(df.schema == StructType(Seq(StructField("id", IntegerType),
      StructField("txt", StringType), StructField("n", IntegerType))))
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a\nb", "c"))
  }
}
