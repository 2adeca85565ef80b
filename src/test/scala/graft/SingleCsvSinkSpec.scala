package graft.sources

import graft.plans.{ColumnDef, FileDef, FileSchema, SchemaType}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** A `.csv` sink path is written by every partition and concatenated: the
  * file must be byte-identical to a `coalesce(1)` write of the same frame.
  * Partition counts are set here, so nothing depends on the host's cores.
  */
class SingleCsvSinkSpec extends graft.SparkSpec {

  private val tmp = "/tmp/graft-test/single-csv"
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("txt", StringType), StructField("d", DateType)))

  private def frame(rows: Seq[Row], partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)

  private def rows(n: Int): Seq[Row] = (1 to n).map(i =>
    Row(i.toLong, s"t$i", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))))

  /** The single part file of a `coalesce(1)` write with the sink's options. */
  private def coalesced(df: DataFrame, name: String): Array[Byte] = {
    val dir = s"$tmp/$name-ref"
    df.coalesce(1).write.mode("overwrite").option("header", true)
      .option("dateFormat", "yyyy-MM-dd").csv(dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    Files.readAllBytes(parts.head.toPath)
  }

  private def saved(df: DataFrame, name: String): Array[Byte] = {
    val path = s"$tmp/$name.csv"
    val cols = df.columns.toSeq.map(_ -> ColumnDef(SchemaType.Str))
    Sink.save(df, FileDef(path, "csv", FileSchema("t", cols)))
    assert(!new java.io.File(path + ".graft-tmp").exists(), "temp dir left behind")
    Files.readAllBytes(Paths.get(path))
  }

  private def assertParity(df: DataFrame, name: String): Unit = {
    val want = coalesced(df, name)
    val got = saved(df, name)
    assert(java.util.Arrays.equals(got, want),
      s"\n${new String(got, "UTF-8")}\n!=\n${new String(want, "UTF-8")}")
  }

  test("13 partitions concatenate in partition-number order") {
    val df = frame(rows(130), 13)
    assert(df.rdd.getNumPartitions == 13)
    assertParity(df, "p13")
  }

  test("an empty first partition") {
    val sc = spark.sparkContext
    val df = spark.createDataFrame(
      sc.parallelize(Seq.empty[Row], 1).union(sc.parallelize(rows(9), 3)), schema)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.rdd.glom().collect().map(_.length).toSeq == Seq(0, 3, 3, 3))
    assertParity(df, "empty-first")
  }

  test("an all-empty frame writes a header-only file") {
    val df = frame(Nil, 3)
    assertParity(df, "all-empty")
    assert(Files.readString(Paths.get(s"$tmp/all-empty.csv")) == "id,txt,d\n")
  }

  test("several files per partition (spark.sql.files.maxRecordsPerFile)") {
    val df = frame(rows(40), 4)
    val want = coalesced(df, "max-records")
    val key = "spark.sql.files.maxRecordsPerFile"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "3")
    try {
      // the case is real: one partition of 10 rows writes 4 files
      val dir = s"$tmp/max-records-dir"
      df.write.mode("overwrite").option("header", true).csv(dir)
      assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("part-")) == 16)
      assert(java.util.Arrays.equals(saved(df, "max-records"), want))
      // the one-task parquet and orc single files keep every row too
      Seq("parquet", "orc").foreach { format =>
        val path = s"$tmp/max-records.$format"
        val cols = df.columns.toSeq.map(_ -> ColumnDef(SchemaType.Str))
        Sink.save(df, FileDef(path, format, FileSchema("t", cols)))
        val ids = spark.read.format(format).load(path).select("id").collect()
          .map(_.get(0).toString.toLong).sorted.toSeq
        assert(ids == (1L to 40L), s"$format: ${ids.size} of 40 rows read back")
      }
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("quotes, commas, newlines and dates") {
    val odd = Seq(
      Row(1L, "plain", java.sql.Date.valueOf("2024-02-29")),
      Row(2L, "a,b", null),
      Row(3L, "say \"hi\"", java.sql.Date.valueOf("1999-12-31")),
      Row(4L, "two\nlines", java.sql.Date.valueOf("2000-01-01")),
      Row(5L, null, java.sql.Date.valueOf("2024-01-01")),
      Row(6L, "", java.sql.Date.valueOf("2024-01-02")),
      Row(7L, "Zürich, \"ß\"\r\nend", java.sql.Date.valueOf("2024-01-03")))
    assertParity(frame(odd, 3), "odd")
  }

  test("the write stage of a 3-partition input runs 3 tasks") {
    val df = frame(rows(30), 3)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    listening(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(e.stageInfo.numTasks)
    })(saved(df, "tasks"))
    assert(stages.toArray.toSeq == Seq(3))
  }
}
