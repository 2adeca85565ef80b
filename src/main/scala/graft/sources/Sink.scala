package graft.sources

import graft.plans.FileDef
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

/** Output writing. Reference: save_data (main.py:432-480) — projects to
  * exactly the schema columns, in schema declaration order, skipping (with a
  * warning) schema columns absent from the data; csv with header; json as a
  * pretty-printed array of row objects with dates rendered `%Y-%m-%d`;
  * parquet as-is.
  *
  * Scale note: the reference's pretty-JSON array is inherently single-file /
  * driver-side. We keep that behavior for parity when `prettyJson=true`
  * (reference-scale outputs), and default to distributed NDJSON at scale —
  * the 100 TB path writes parquet or NDJSON, never a collected array.
  */
object Sink {

  def projectToSchema(df: DataFrame, fd: FileDef): DataFrame = {
    val present = df.columns.toSet
    val (kept, skipped) = fd.schema.columnNames.partition(present)
    if (skipped.nonEmpty)
      System.err.println(s"[sink] warning: schema columns missing from data, skipped: ${skipped.mkString(", ")}")
    df.select(kept.map(col): _*)
  }

  /** Write `df` per `fd`. A `.csv`, `.parquet` or `.orc` path gets exactly
    * one file: a `.csv` is written by every partition in parallel and
    * concatenated (`writeSingleCsv`), a `.parquet`/`.orc` runs as one task
    * (`writeSingleFile`). Any other path gets Spark's directory of part
    * files. JSON defaults to DISTRIBUTED NDJSON — the safe library default
    * at any scale; the collected pretty-printed array
    * (reference byte-parity) is opt-in via `prettyJson = true` and is
    * passed only by the CLI-parity pipeline path (Runner.runOutput),
    * where outputs are reference-scale by construction. A library caller
    * never driver-collects by default.
    *
    * Spark writes every output but the pretty-JSON array to
    * `<path>.graft-tmp`, which is moved onto `path` after the write. A
    * frame with a [[guardEmpty]] count (`Runner.applyAll`'s static unfold)
    * is written only where every guard counted rows in that write's pass;
    * otherwise the temp output is removed, `path` is left as it was, and
    * `save` throws.
    */
  def save(df: DataFrame, fd: FileDef, prettyJson: Boolean = false): Unit =
    if (!write(df, fd, prettyJson))
      throw new IllegalStateException(s"nothing written to ${fd.path}: the frame's empty-input guard counted no rows")

  /** `save`, returning false where a guard of `df` counted no rows and
    * nothing was written.
    */
  private[graft] def write(df: DataFrame, fd: FileDef, prettyJson: Boolean): Boolean = {
    val out = projectToSchema(df, fd)
    val guards = guardsOf(df)
    fd.format match {
      case "csv" if fd.path.toLowerCase.endsWith(".csv") =>
        // reference parity: the output is ONE file at exactly this path
        // (main.py writes a single csv). Extension-less paths keep Spark's
        // distributed directory layout — the at-scale mode.
        writeSingleCsv(out, fd.path, Map("header" -> "true", "dateFormat" -> "yyyy-MM-dd"), guards)
      case "csv" =>
        writeDir(out, "csv", Map("header" -> "true", "dateFormat" -> "yyyy-MM-dd"), fd.path, guards)
      case "parquet" if fd.path.toLowerCase.endsWith(".parquet") =>
        writeSingleFile(out, fd.path, "parquet", guards)
      case "orc" if fd.path.toLowerCase.endsWith(".orc") =>
        writeSingleFile(out, fd.path, "orc", guards)
      case "parquet" | "orc" =>
        writeDir(out, fd.format, Map.empty, fd.path, guards)
      case "json" if !prettyJson =>
        // distributed NDJSON — the at-scale JSON representation
        writeDir(renderDates(out), "json", Map.empty, fd.path, guards)
      case "json" =>
        // reference parity (main.py:464-470): `json.dump(rows, indent=2)` —
        // an indent-2 array of row objects, dates %Y-%m-%d, nulls INCLUDED
        // (Spark's toJSON drops null fields, so rows are rendered from
        // collected Rows instead). Collect is deliberate and documented:
        // this branch is for reference-scale outputs only.
        val rendered = renderDates(out)
        val names = rendered.schema.fieldNames.toSeq
        val rows = rendered.collect()
        rowsSeen(guards) && {
          val body =
            if (rows.isEmpty) "[]"
            else rows.map(r => "  " + pyJsonObject(names.zip(r.toSeq), 2))
              .mkString("[\n", ",\n", "\n]")
          val p = Paths.get(fd.path)
          if (p.getParent != null) Files.createDirectories(p.getParent)
          Files.writeString(p, body)
          true
        }
      case other => throw new IllegalArgumentException(s"unsupported output format '$other'")
    }
  }

  private val Guard = TreeNodeTag[Observation]("graft.emptyGuard")

  /** `df` with a count of its rows, taken by `Observation` in the pass
    * that writes it (no job of its own). `save` writes a frame that
    * carries such a count only where it is positive. The count reaches the
    * driver through the session's listener bus, after the write returns;
    * one that has not come within `GuardWait` (say, the write's plan did
    * not take it) reads as 0, so nothing is written on a guess. A guarded
    * frame that is never executed leaves its `Observation` registered in
    * the session.
    */
  private[graft] def guardEmpty(df: DataFrame): DataFrame = {
    val guard = Observation()
    val observed = df.observe(guard, count(lit(1)).as("rows"))
    // frames built on `observed` hold these analyzed nodes, tags included
    observed.queryExecution.analyzed.foreach {
      case c: CollectMetrics if c.name == guard.name => c.setTagValue(Guard, guard)
      case _ =>
    }
    observed
  }

  private def guardsOf(df: DataFrame): Seq[Observation] =
    df.queryExecution.analyzed.flatMap(_.getTagValue(Guard).toSeq).distinct

  /** Whether `df` carries a [[guardEmpty]] count. */
  private[graft] def guarded(df: DataFrame): Boolean = guardsOf(df).nonEmpty

  private val GuardWait = 60.seconds

  /** Whether every guard counted rows; read after the write's own pass. */
  private def rowsSeen(guards: Seq[Observation]): Boolean =
    guards.forall(g => Try(Await.result(g.future, GuardWait)).toOption.exists(_.getAs[Long]("rows") > 0))

  /** Spark's directory of part files at `path`, replacing what is there,
    * written to `<path>.graft-tmp` and renamed onto `path` only where
    * `rowsSeen`.
    */
  private def writeDir(df: DataFrame, format: String, options: Map[String, String], path: String,
                       guards: Seq[Observation]): Boolean = {
    val target = new HPath(path)
    // a sibling of the target (`path` may end in a slash)
    val tmp = target.suffix(".graft-tmp")
    df.write.mode(SaveMode.Overwrite).format(format).options(options).save(tmp.toString)
    val fs = tmp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val seen = rowsSeen(guards)
    if (seen) {
      fs.delete(target, true)
      if (!fs.rename(tmp, target)) throw new IllegalStateException(s"could not rename $tmp to $target")
    } else fs.delete(tmp, true)
    seen
  }

  /** One CSV file at `path`, written by every partition in parallel: each
    * task writes its part into a temp dir (every part starts with the same
    * header), then the parts are appended, in partition order, onto the
    * first one with their header stripped, and that file is moved to
    * `path`. The bytes are those of a one-partition write of the same
    * frame, without running the whole plan as one task; the driver-side cost is
    * one sequential copy of the non-first parts. Where a guard counted no
    * rows, the temp dir is removed instead.
    */
  private def writeSingleCsv(df: DataFrame, path: String, options: Map[String, String],
                             guards: Seq[Observation]): Boolean = {
    val tmp = path + ".graft-tmp"
    df.write.mode(SaveMode.Overwrite).options(options).csv(tmp)
    if (!rowsSeen(guards)) { deleteTree(Paths.get(tmp)); false }
    else {
      val header = csvHeader(df, options)
      val parts = partFiles(Paths.get(tmp)).sortBy(partOrder)
      if (parts.isEmpty) throw new IllegalStateException(s"no part file in $tmp")
      Using.resource(FileChannel.open(parts.head, StandardOpenOption.APPEND)) { out =>
        parts.tail.foreach { part =>
          Using.resource(FileChannel.open(part, StandardOpenOption.READ)) { in =>
            val head = ByteBuffer.allocate(header.length)
            while (head.hasRemaining && in.read(head) >= 0) {}
            if (!java.util.Arrays.equals(head.array, header))
              throw new IllegalStateException(s"$part does not start with the csv header")
            var pos = header.length.toLong
            while (pos < in.size) pos += in.transferTo(pos, in.size - pos, out)
          }
        }
      }
      moveToTarget(parts.head, tmp, path)
      true
    }
  }

  /** The header line Spark's CSV writer starts each part with, written by
    * the same generator with the same options.
    */
  private def csvHeader(df: DataFrame, options: Map[String, String]): Array[Byte] = {
    val spark = df.sparkSession
    val csvOptions = new CSVOptions(options,
      spark.conf.get("spark.sql.csv.parser.columnPruning.enabled").toBoolean,
      spark.conf.get("spark.sql.session.timeZone"))
    val text = new java.io.StringWriter()
    val gen = new UnivocityGenerator(df.schema, text, csvOptions)
    gen.writeHeaders()
    gen.close()
    text.toString.getBytes(csvOptions.charset)
  }

  private val PartName = """part-(\d+)-.*-c(\d+)(\..*)?""".r

  /** (partition number, file number within the partition) of a part file,
    * parsed as numbers: name order breaks past 99,999 partitions or 999
    * files per partition, where the zero padding runs out.
    */
  private def partOrder(p: Path): (Int, Int) = p.getFileName.toString match {
    case PartName(partition, file, _) => (partition.toInt, file.toInt)
    case other => throw new IllegalStateException(s"unexpected part file name $other")
  }

  private def partFiles(dir: Path): Vector[Path] =
    Using.resource(Files.list(dir))(_.iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector)

  /** Move `file` to `path`, then delete the temp dir it was written in. */
  private def moveToTarget(file: Path, tmp: String, path: String): Unit = {
    val target = Paths.get(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    Files.move(file, target, StandardCopyOption.REPLACE_EXISTING)
    // clean the temp dir (part crc/_SUCCESS markers)
    deleteTree(Paths.get(tmp))
  }

  private def deleteTree(dir: Path): Unit =
    Using.resource(Files.walk(dir))(_.sorted(java.util.Comparator.reverseOrder())
      .iterator.asScala.foreach(Files.deleteIfExists))

  /** Exactly one parquet or orc file at `path`: these formats cannot be
    * concatenated, so the whole plan is coalesced to ONE task writing into
    * a temp dir, and its part file is moved (unless a guard counted no
    * rows). `maxRecordsPerFile` 0 (no limit) overrides the session's
    * `spark.sql.files.maxRecordsPerFile`, which would otherwise split that
    * task's output over several files.
    */
  private def writeSingleFile(df: DataFrame, path: String, format: String,
                              guards: Seq[Observation]): Boolean = {
    val tmp = path + ".graft-tmp"
    df.coalesce(1).write.mode(SaveMode.Overwrite).format(format)
      .option("maxRecordsPerFile", "0").save(tmp)
    if (!rowsSeen(guards)) { deleteTree(Paths.get(tmp)); false }
    else partFiles(Paths.get(tmp)) match {
      case Vector(part) => moveToTarget(part, tmp, path); true
      case parts => throw new IllegalStateException(
        s"expected one part file in $tmp, found ${parts.size}")
    }
  }

  private def renderDates(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case DateType => acc.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd"))
        case _        => acc
      }
    }

  // ---- CPython-json.dump-parity rendering (indent=2, ensure_ascii=True) ----

  /** JSON string literal exactly as CPython's json module writes it:
    * ensure_ascii escaping (non-ASCII → lowercase \\uXXXX) plus the short
    * escapes for quote/backslash/control chars.
    */
  private[sources] def pyJsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' || c > '~' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Doubles as CPython repr renders them: plain decimal for decimal
    * exponent in [-4, 15], else `1.5e+16` / `1e-05` scientific (Java flips
    * to E-notation already at 1e7, so the Java form is re-expanded).
    */
  private[sources] def pyJsonDouble(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d == Double.PositiveInfinity) "Infinity"
    else if (d == Double.NegativeInfinity) "-Infinity"
    else {
      val s = java.lang.Double.toString(d) // shortest round-trip, like repr
      val eIdx = s.indexOf('E')
      if (eIdx < 0) s
      else {
        val mantissa = s.substring(0, eIdx)
        val exp = s.substring(eIdx + 1).toInt
        if (exp >= -4 && exp < 16) {
          val plain = new java.math.BigDecimal(s).toPlainString
          if (plain.contains('.')) plain else plain + ".0"
        } else {
          val m = if (mantissa.endsWith(".0")) mantissa.dropRight(2) else mantissa
          val sign = if (exp < 0) "-" else "+"
          val mag = math.abs(exp)
          val eStr = if (mag < 10) "0" + mag else mag.toString
          s"${m}e$sign$eStr"
        }
      }
    }
  }

  private[sources] def pyJsonValue(v: Any, indent: Int): String = v match {
    case null                       => "null"
    case b: Boolean                 => if (b) "true" else "false"
    case s: String                  => pyJsonString(s)
    case d: java.sql.Date           => pyJsonString(d.toString)
    case d: java.time.LocalDate     => pyJsonString(d.toString)
    case t: java.sql.Timestamp      => pyJsonString(t.toString)
    case f: Float                   => pyJsonDouble(f.toDouble)
    case d: Double                  => pyJsonDouble(d)
    case bd: java.math.BigDecimal   => bd.toPlainString
    case bd: BigDecimal             => bd.underlying.toPlainString
    case r: org.apache.spark.sql.Row =>
      pyJsonObject(r.schema.fieldNames.toSeq.zip(r.toSeq), indent)
    case m: scala.collection.Map[_, _] =>
      pyJsonObject(m.toSeq.map { case (k, vv) => (String.valueOf(k), vv) }, indent)
    case seq: scala.collection.Seq[_] =>
      if (seq.isEmpty) "[]"
      else {
        val pad = " " * (indent + 2)
        seq.map(e => pad + pyJsonValue(e, indent + 2))
          .mkString("[\n", ",\n", "\n" + " " * indent + "]")
      }
    case n: Number => n.toString
    case other     => pyJsonString(other.toString)
  }

  private[sources] def pyJsonObject(fields: Seq[(String, Any)], indent: Int): String =
    if (fields.isEmpty) "{}"
    else {
      val pad = " " * (indent + 2)
      fields.map { case (k, v) => pad + pyJsonString(k) + ": " + pyJsonValue(v, indent + 2) }
        .mkString("{\n", ",\n", "\n" + " " * indent + "}")
    }
}
