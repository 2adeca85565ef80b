package graft.sources

import graft.plans.{ColumnDef, FileDef, FileSchema, SchemaType}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Sink pretty-JSON parity (byte-identical to CPython `json.dump(rows,
  * indent=2)`) and Source's 1000-row CSV inference window.
  */
class SinkSourceSpec extends graft.SparkSpec {

  private val tmp = "/tmp/graft-test"

  test("json sink output is byte-identical to CPython json.dump(rows, indent=2)") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("txt", StringType),
      StructField("opt", StringType), StructField("amt", DoubleType),
      StructField("d", DateType), StructField("arr", ArrayType(DoubleType))))
    val rows = Seq(
      Row(1L, "héllo\nworld", null, 123.45, java.sql.Date.valueOf("2024-03-01"), Seq(1.5, 2.0)),
      Row(2L, "plain", "x", 1e16, null, Seq.empty[Double]))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, numSlices = 1), schema)

    val cols = schema.fieldNames.map(n => n -> ColumnDef(SchemaType.Str)).toSeq
    val path = s"$tmp/pretty.json"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    Sink.save(df, FileDef(path, "json", FileSchema("t", cols)), prettyJson = true)

    // expected literal produced by: python3 -c 'import json; json.dump(..., indent=2)'
    val expected =
      "[\n  {\n    \"id\": 1,\n    \"txt\": \"h\\u00e9llo\\nworld\",\n    \"opt\": null," +
        "\n    \"amt\": 123.45,\n    \"d\": \"2024-03-01\",\n    \"arr\": [\n      1.5," +
        "\n      2.0\n    ]\n  },\n  {\n    \"id\": 2,\n    \"txt\": \"plain\"," +
        "\n    \"opt\": \"x\",\n    \"amt\": 1e+16,\n    \"d\": null,\n    \"arr\": []\n  }\n]"
    val got = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(got == expected)
  }

  test("json sink DEFAULT is distributed NDJSON (no driver collect, no pretty array)") {
    import spark.implicits._
    val df = (1L to 500L).toDF("id")
    val path = s"$tmp/ndjson_default"
    Sink.save(df, FileDef(path, "json",
      FileSchema("t", Seq("id" -> ColumnDef(SchemaType.Int64)))))
    val dir = new java.io.File(path)
    // distributed branch writes a DIRECTORY of part files, not one
    // collected array file — a large frame never lands on the driver
    assert(dir.isDirectory, "default json sink must take the distributed branch")
    assert(dir.listFiles().exists(_.getName.startsWith("part-")))
    assert(spark.read.json(path).count() == 500)
  }

  test("doubles render exactly like CPython repr (plain until 1e16, e+NN beyond)") {
    // Java flips to E-notation at 1e7; CPython only at 1e16 / below 1e-4
    assert(Sink.pyJsonDouble(12345678.0) == "12345678.0")
    assert(Sink.pyJsonDouble(1e15) == "1000000000000000.0")
    assert(Sink.pyJsonDouble(1e16) == "1e+16")
    assert(Sink.pyJsonDouble(2.5e16) == "2.5e+16")
    assert(Sink.pyJsonDouble(0.00015) == "0.00015")
    assert(Sink.pyJsonDouble(1e-5) == "1e-05")
    assert(Sink.pyJsonDouble(-0.0) == "-0.0")
    assert(Sink.pyJsonDouble(123.45) == "123.45")
  }

  test("csv schema inference uses EXACTLY the first 1000 rows (reference window parity)") {
    val p = s"$tmp/infer_window.csv"
    new java.io.File(tmp).mkdirs()
    val body = "k,v\n" + (1 to 1000).map(i => s"$i,$i").mkString("\n") +
      "\n1001,notanumber\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p), body)

    val df = Source.loadCsv(spark, p, Nil)
    // full-file inference would see row 1001 and fall back to string; the
    // 1000-row window infers integer (main.py:381 parity)
    assert(df.schema("v").dataType == IntegerType, s"got ${df.schema("v").dataType}")
    // the out-of-window unparseable value reads as null (permissive csv)
    assert(df.count() == 1001)
    assert(df.filter(org.apache.spark.sql.functions.col("v").isNull).count() == 1)
  }

  test("a non-ASCII csv with an undeclared column loads as UTF-8, whatever the JVM's charset") {
    val p = s"$tmp/non_ascii.csv"
    new java.io.File(tmp).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      "id,city,pop\n1,Zürich,421878\n2,Genève,203856\n3,Köln,1084831\n".getBytes("UTF-8"))
    val df = Source.loadCsv(spark, p, Seq("city" -> SchemaType.Str))
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> IntegerType, "city" -> StringType, "pop" -> IntegerType))
    assert(df.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1, "Zürich", 421878), (2, "Genève", 203856), (3, "Köln", 1084831)))
  }

  test("quarantine load: bad rows captured raw, good rows typed, nothing lost") {
    val p = "/tmp/graft-test/quarantine.csv"
    val w = new java.io.PrintWriter(p)
    w.println("id,qty,price")
    w.println("1,5,10.5")          // good
    w.println("2,notanum,3.25")    // bad long
    w.println("3,7,oops")          // bad double
    w.println("4,,2.0")            // null qty is VALID (missing ≠ malformed)
    w.println("5,9,1.0")           // good
    w.close()
    val (good, bad) = Source.loadCsvWithQuarantine(spark, p,
      Seq("id" -> SchemaType.Int64, "qty" -> SchemaType.Int64, "price" -> SchemaType.Flt))
    val goodIds = good.collect().map(_.getLong(0)).sorted.toSeq
    assert(goodIds == Seq(1L, 4L, 5L), s"got $goodIds")
    val badLines = bad.collect().map(_.getString(0)).sorted.toSeq
    assert(badLines == Seq("2,notanum,3.25", "3,7,oops"), s"got $badLines")
    // conservation: every input record lands in exactly one channel
    assert(good.count() + bad.count() == 5)
    good.unpersist(); spark.catalog.clearCache()
  }

  test("loadMerged: evolving parquet dir unions file schemas; plain load may drop the new column") {
    import spark.implicits._
    val dir = "/tmp/graft-test/evolve"
    def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    rm(new java.io.File(dir)); new java.io.File(dir).mkdirs()
    // v1 writer: (id, a) — v2 writer adds column b
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/p1")
    Seq((2L, "y", 9L)).toDF("id", "a", "b").write.parquet(s"$dir/p2")
    // flatten part-files into one directory (two schema generations side by side)
    val files = new java.io.File(dir).listFiles.filter(_.isDirectory).flatMap(_.listFiles)
      .filter(_.getName.endsWith(".parquet"))
    files.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.move(f.toPath, new java.io.File(dir, s"part-$i.parquet").toPath)
    }
    new java.io.File(dir).listFiles.filter(_.isDirectory).foreach(rm)

    val sch = FileSchema("t", Seq("id" -> ColumnDef(SchemaType.Int64)))
    val merged = Source.loadMerged(spark, FileDef(dir, "parquet", sch))
    assert(merged.columns.toSet == Set("id", "a", "b"))
    val rows = merged.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(0).isNullAt(rows(0).fieldIndex("b")), "v1 rows null-fill the new column")
    assert(rows(1).getLong(rows(1).fieldIndex("b")) == 9L)
  }

  test("orc sink/source round-trip: directory layout and single-file path") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    val sch = FileSchema("t", Seq("id" -> ColumnDef(SchemaType.Int64),
      "name" -> ColumnDef(SchemaType.Str), "v" -> ColumnDef(SchemaType.Flt)))
    // distributed directory layout
    val dir = "/tmp/graft-test/orc_dir"
    Sink.save(df, FileDef(dir, "orc", sch))
    val back = Source.load(spark, FileDef(dir, "orc", sch))
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
    // .orc extension → exactly one file at that path (reference parity rule)
    val single = "/tmp/graft-test/single.orc"
    Sink.save(df, FileDef(single, "orc", sch))
    assert(new java.io.File(single).isFile)
    assert(spark.read.orc(single).count() == 2)
  }
}
