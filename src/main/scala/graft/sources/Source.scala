package graft.sources

import graft.plans.{FileDef, SchemaType}
import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Input loading. Reference: load_data (main.py:361-394) — declared schema
  * becomes dtype overrides; columns NOT in the declared schema are inferred
  * (infer window 1000 rows); missing/extra columns produce warnings only.
  * The reference only implements CSV (main.py:369-370 raises for json/
  * parquet despite the config allowing them) — we support all three, since
  * parquet is the 100 TB path.
  */
object Source {

  def load(spark: SparkSession, fd: FileDef): DataFrame = fd.format match {
    case "csv"     => loadCsv(spark, fd.path, fd.schema.columns.map { case (n, d) => n -> d.tpe })
    case "json"    => castDeclared(spark.read.json(fd.path), fd)
    case "parquet" => castDeclared(spark.read.parquet(fd.path), fd)
    case "orc"     => castDeclared(spark.read.orc(fd.path), fd)
    case other     => throw new IllegalArgumentException(s"unsupported input format '$other'")
  }

  /** CSV with declared dtype overrides + inference for undeclared columns.
    * The scan itself is one read with an explicit schema (declared types for
    * declared columns, inferred types for the rest), so it stays single-pass
    * over the data at scale. Resolving that schema costs:
    *   - a local regular file whose first 1,001 lines are quote-balanced
    *     (physical lines are records): no Spark job. The header and the
    *     1000-row inference window are parsed in the driver from those
    *     lines, with Spark's own CSV parser settings, header rules and type
    *     inference, so the schema is the one Spark would resolve;
    *   - anything else (a directory, a glob, a quoted field spanning lines):
    *     a header-read job, and an inference job over a record-accurate
    *     sample when a column is undeclared.
    */
  def loadCsv(spark: SparkSession, path: String,
              declared: Seq[(String, SchemaType)]): DataFrame = {
    val declaredMap = declared.toMap

    // The raw line head is only valid when physical lines == records: a
    // quoted field with an embedded newline splits one record across lines
    // (the head truncates mid-record), and directory/glob input interleaves
    // later files' HEADER lines as data. Detect both; fall back to Spark's
    // reader and a record-accurate sample via the real CSV parser, and read
    // the full file in multiLine mode when records genuinely span lines.
    val f = new java.io.File(path)
    val rawLines = if (f.isFile) headLines(f, InferWindow + 1) else Nil
    val linesSafe = rawLines.nonEmpty &&
      rawLines.forall(l => l.count(_ == '"') % 2 == 0)
    val needsMultiLine = f.isFile && !linesSafe
    val local = if (linesSafe) Some(new LocalHead(spark, rawLines)) else None

    val header = local.fold(
      spark.read.option("header", true).csv(path).schema.fieldNames)(_.header)
    val missing = declared.map(_._1).filterNot(header.contains)
    if (missing.nonEmpty)
      System.err.println(s"[source] warning: declared columns absent from $path: ${missing.mkString(", ")}")

    val undeclared = header.filterNot(declaredMap.contains)

    val inferredTypes: Map[String, DataType] =
      if (undeclared.isEmpty) Map.empty
      else {
        // reference parity: inference window of 1000 rows (main.py:381).
        // Inference runs on ONLY the first 1000 data records — a full-file
        // `inferSchema` pass would both scan everything (cost at scale) and
        // infer from rows outside the reference's window (parity drift).
        val fields = local.fold {
          val sampleDs = spark.createDataset(recordHead(spark, path, InferWindow))(
            org.apache.spark.sql.Encoders.STRING)
          spark.read.option("header", true).option("inferSchema", true)
            .csv(sampleDs).schema.fields
        }(_.inferred)
        fields.map(f => f.name -> f.dataType).toMap
      }

    val schema = StructType(header.map { name =>
      val dt = declaredMap.get(name).map(_.spark)
        .orElse(inferredTypes.get(name)).getOrElse(StringType)
      StructField(name, dt, nullable = true)
    })
    spark.read.option("header", true).schema(schema)
      .option("multiLine", needsMultiLine)
      .option("dateFormat", "yyyy-MM-dd").csv(path)
  }

  private val InferWindow = 1000

  /** The header and the inferred fields of a CSV whose lines are records,
    * resolved in the driver exactly as Spark's `csv(Dataset[String])` with
    * `header` and `inferSchema` resolves them: comment/empty lines dropped,
    * the first remaining line parsed as the header and made safe
    * (`_c<i>` for empty names, `<name><i>` for duplicates), every line equal
    * to it dropped, and the rest folded through `CSVInferSchema`.
    */
  private final class LocalHead(spark: SparkSession, lines: Seq[String]) {
    private val options = new CSVOptions(
      Map("header" -> "true", "inferSchema" -> "true"),
      spark.conf.get("spark.sql.csv.parser.columnPruning.enabled").toBoolean,
      spark.conf.get("spark.sql.session.timeZone"))
    private val parser = new CsvParser(options.asParserSettings)
    private val records = CSVUtils.filterCommentAndEmpty(lines.iterator, options).toSeq
    private val firstLine = records.headOption

    val header: Array[String] = firstLine.flatMap(l => Option(parser.parseLine(l)))
      .fold(Array.empty[String])(CSVUtils.makeSafeHeader(_,
        spark.conf.get("spark.sql.caseSensitive").toBoolean, options))

    def inferred: Array[StructField] = firstLine.fold(Array.empty[StructField]) { first =>
      val inference = new CSVInferSchema(options)
      val types = CSVUtils.filterHeaderLine(records.iterator, first, options)
        .map(parser.parseLine)
        .foldLeft(Array.fill[DataType](header.length)(NullType))(inference.inferRowType)
      inference.toStructFields(types, header)
    }
  }

  /** First `n` lines of a local file — exact head, zero Spark jobs. Decoded
    * as UTF-8, Spark CSV's default encoding (malformed bytes become U+FFFD,
    * as in Spark's text reader), with the UTF-8 byte-order mark dropped as
    * Hadoop's line reader drops it.
    */
  private def headLines(f: java.io.File, n: Int): List[String] =
    scala.util.Using.resource(new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.FileInputStream(f), java.nio.charset.StandardCharsets.UTF_8))) { r =>
      Iterator.continually(r.readLine()).takeWhile(_ != null).take(n).toList match {
        case first :: rest if first.startsWith("\uFEFF") => first.drop(1) :: rest
        case lines => lines
      }
    }

  /** Record-accurate sample head: parse with the real CSV reader (which
    * handles quoted embedded newlines and per-file headers; multiLine for
    * single files so records spanning lines parse whole), take the first
    * `n` RECORDS (bounded scan — the limit stops reading early), and
    * re-serialize them as ONE CSV line per record for the inference
    * parser. Embedded newlines are flattened to spaces — a value
    * containing a newline infers as string either way, and the sample
    * reader consumes one record per dataset element.
    */
  private def recordHead(spark: SparkSession, path: String, n: Int): Seq[String] = {
    def quote(v: String): String =
      if (v == null) ""
      else {
        val flat = v.replace('\n', ' ').replace('\r', ' ')
        if (flat.exists(c => c == ',' || c == '"'))
          "\"" + flat.replace("\"", "\"\"") + "\""
        else flat
      }
    val recs = spark.read.option("header", true)
      .option("multiLine", new java.io.File(path).isFile)
      .csv(path).limit(n)
    val headerLine = recs.columns.map(quote).mkString(",")
    headerLine +: recs.collect().toSeq.map(r =>
      r.toSeq.map(v => quote(if (v == null) null else v.toString)).mkString(","))
  }

  /** For self-describing formats: cast declared columns to their declared
    * types; leave undeclared columns as read.
    */
  private def castDeclared(df: DataFrame, fd: FileDef): DataFrame = {
    val present = df.columns.toSet
    fd.schema.columns.foldLeft(df) { case (acc, (name, cd)) =>
      if (present(name) && acc.schema(name).dataType != cd.tpe.spark)
        acc.withColumn(name, col(name).cast(cd.tpe.spark))
      else acc
    }
  }

  /** Evolving-directory read: a parquet/orc directory written by several
    * pipeline versions carries DIFFERENT file schemas; the default read
    * takes one footer's schema and silently drops columns the sampled
    * file lacks. `mergeSchema` unions all file schemas (missing columns
    * null-fill per file), then declared casts apply on top.
    *
    * Kept separate from `load` on purpose: schema merging reads every
    * file's footer at planning time — fine for a maintenance/backfill
    * read, wasteful as the default on a million-file 100 TB table (there
    * you pin the schema in a catalog and use `load`).
    */
  def loadMerged(spark: SparkSession, fd: FileDef): DataFrame = fd.format match {
    case "parquet" =>
      castDeclared(spark.read.option("mergeSchema", true).parquet(fd.path), fd)
    case "orc" =>
      castDeclared(spark.read.option("mergeSchema", true).orc(fd.path), fd)
    case other =>
      throw new IllegalArgumentException(s"loadMerged supports parquet/orc, got '$other'")
  }

  /** Production ingestion with a QUARANTINE channel: rows the declared
    * schema cannot parse are captured (PERMISSIVE mode + the corrupt-
    * record column) instead of nulling out silently or killing the job.
    * Returns (good rows in the declared schema, quarantined raw lines).
    *
    * The reference's strict world (Polars raises on the first bad value)
    * is right for a 10-row demo CSV and wrong at 100 TB, where a
    * petabyte-scale load ALWAYS contains some malformed rows and the
    * job must not die at hour 9 of 10 — the operational pattern is
    * load-all, route rejects to a side table, alert on the reject rate
    * (see `ext.Quality` for the gating side).
    *
    * Both frames come from ONE scan definition; Spark evaluates the
    * corrupt-record column during the same parse that produces the good
    * rows, so quarantining costs nothing extra over a permissive read.
    */
  def loadCsvWithQuarantine(spark: SparkSession, path: String,
                            declared: Seq[(String, SchemaType)]): (DataFrame, DataFrame) = {
    val fields = declared.map { case (n, t) => StructField(n, t.spark, nullable = true) }
    val schema = StructType(fields :+ StructField("_corrupt_record", StringType, nullable = true))
    val raw = spark.read
      .option("header", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema)
      .csv(path)
      // the corrupt-record column must be materialized before filtering on
      // it (Spark refuses a filter-only reference to it), and caching the
      // parsed frame keeps good/bad extraction to one scan
      .cache()
    val good = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (good, bad)
  }
}
